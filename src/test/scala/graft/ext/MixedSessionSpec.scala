package graft.ext

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Relational

/** Library operators must not depend on the session they are called from.
  * The extension-enabled test session stays ACTIVE while every frame below
  * comes from a second session whose graft SQL functions were dropped —
  * the mixed-session posture of a shared Spark deployment. Each operator
  * must return what the same call returns on the extension session, and
  * its plan must run the native kernels (no explode→aggregate or Window
  * formulation standing in for them). */
class MixedSessionSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val graftFunctions = Seq("pq_codes", "char_kgrams", "minhash_bands",
    "minhash_sigs", "word_shingles", "simhash_tokens", "winnow_fps",
    "bpe_merge_all", "nearest_cell", "pq_dot_table", "vec_dot", "cosine_sim",
    "vec_norm", "jaro_winkler", "bloom_agg", "bloom_might_contain")

  private lazy val plain: SparkSession = {
    val s = spark.newSession()
    graftFunctions.foreach(f => s.sql(s"DROP TEMPORARY FUNCTION IF EXISTS $f"))
    s
  }

  /** Every operator is built while the extension session is the active one. */
  private def active[T](body: => T): T = {
    SparkSession.setActiveSession(spark)
    body
  }

  // near-duplicate families: each base sentence plus one-word edits
  private val bases = Seq(
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "a distributed engine shuffles rows between stages when keys must meet",
    "über café ボカロ曲 lyrics travel well across many language corpora now")
  private val texts: Seq[(Long, String)] = bases.zipWithIndex.flatMap {
    case (b, i) =>
      val w = b.split(" ")
      (0 until 4).map { j =>
        val edited = if (j == 0) b else w.updated(j + 2, s"edit$j").mkString(" ")
        ((i * 10 + j).toLong, edited)
      }
  } :+ ((99L, "short"))

  private val vecs: Seq[(Long, Seq[Float])] = (0 until 24).map { i =>
    val r = new scala.util.Random(i)
    (i.toLong, Seq.fill(8)(r.nextFloat() + (i % 3) * (if (i % 2 == 0) 1f else -1f)))
  }

  // RDD-backed, not local relations: the optimizer would otherwise fold
  // every projection over the fixture into a LocalTableScan at plan time
  // and no kernel would be left in any plan to inspect
  private def frame[T <: Product : ClassTag : TypeTag](
      s: SparkSession, data: Seq[T], names: String*): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(data, 2)).toDF(names: _*)
  private def docs(s: SparkSession): DataFrame =
    frame(s, texts, "doc_id", "text")
  private def embeddings(s: SparkSession): DataFrame =
    frame(s, vecs, "vec_id", "embedding")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case b: Array[Byte] => b.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  /** Pretty names of every expression in the executed plan, AQE query
    * stages included. */
  private def exprNames(df: DataFrame): Set[String] =
    flatMap(plan(df))(_.expressions.flatMap(_.collect { case e => e.prettyName }))
      .toSet

  private def hasNode(df: DataFrame)(p: PartialFunction[SparkPlan, Unit]): Boolean =
    collectFirst(plan(df))(p).isDefined

  /** Same result on both sessions; returns the plain-session frame. */
  private def sameOnBoth(op: SparkSession => DataFrame): DataFrame = active {
    val got = op(plain)
    assert(got.sparkSession eq plain)
    val want = rows(op(spark))
    assert(want.nonEmpty, "fixture yields no rows: the comparison is vacuous")
    assert(rows(got) == want)
    got
  }

  private def assertKernels(df: DataFrame, kernels: String*): Unit = {
    val names = exprNames(df)
    kernels.foreach(k => assert(names(k), s"$k missing from plan:\n${plan(df)}"))
  }

  test("the plain session really lacks the graft SQL functions") {
    active(assert(SparkSession.getActiveSession.contains(spark)))
    graftFunctions.foreach(f => assert(!plain.catalog.functionExists(f), f))
    assert(spark.catalog.functionExists("minhash_bands"))
  }

  test("dedup: minhashBands, nearDupPairs, simhash both hash kinds") {
    val bands = sameOnBoth(s => Dedup.minhashBands(docs(s), "doc_id", "text"))
    assertKernels(bands, "word_shingles", "minhash_bands")
    assert(!hasNode(bands) { case _: BaseAggregateExec => }, plan(bands))
    val sigs = sameOnBoth(s => Dedup.minhashSignatures(docs(s), "doc_id", "text"))
    assertKernels(sigs, "minhash_sigs")
    sameOnBoth(s => Dedup.nearDupPairs(docs(s), "doc_id", "text", threshold = 0.5))
    for (md5 <- Seq(false, true)) {
      val sims = sameOnBoth(s => Dedup.simhashes(docs(s), "doc_id", "text",
        bits = 60, md5Hash = md5))
      assertKernels(sims, "simhash_tokens")
      assert(!hasNode(sims) { case _: BaseAggregateExec => }, plan(sims))
      sameOnBoth(s => Dedup.simhashPairs(docs(s), "doc_id", "text",
        maxDist = 3, bits = 60, md5Hash = md5))
    }
  }

  test("text: winnowFingerprints both hash kinds, charGrams") {
    for (md5 <- Seq(false, true)) {
      val fps = sameOnBoth(s => TextOps.winnowFingerprints(docs(s), "doc_id",
        "text", md5Hash = md5))
      assertKernels(fps, "winnow_fps")
      assert(!hasNode(fps) { case _: WindowExec => }, plan(fps))
    }
    val grams = sameOnBoth(s => docs(s).select(col("doc_id"),
      TextOps.charGrams(col("text"), 5).as("g")))
    assertKernels(grams, "char_kgrams")
  }

  test("bpe: train and encode") {
    val merges = active(Bpe.train(plain, docs(plain), "text", merges = 5))
      .orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val want = Bpe.train(spark, docs(spark), "text", merges = 5)
      .orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.nonEmpty && merges == want)
    val enc = sameOnBoth(s => Bpe.encode(docs(s), "doc_id", "text", merges))
    assertKernels(enc, "char_kgrams", "bpe_merge_all")
  }

  test("vectors: brute-force top-k, IVF, PQ encode") {
    val topk = sameOnBoth(s => Similarity.bruteForceTopK(embeddings(s),
      embeddings(s).where(col("vec_id") < 4), "vec_id", "embedding", k = 3))
    assertKernels(topk, "vec_dot", "vec_norm")
    val cells = sameOnBoth(s => Ivf.kmeansCells(embeddings(s), "vec_id",
      "embedding", k = 3, iters = 2))
    assertKernels(cells, "nearest_cell")
    sameOnBoth { s =>
      val c = Ivf.kmeansCells(embeddings(s), "vec_id", "embedding", k = 3,
        iters = 2)
      Ivf.ivfTopK(c, c.where(col("vec_id") < 4), "vec_id", "embedding",
        "cell", k = 3)
    }
    val cbs = active(Pq.train(embeddings(plain), "vec_id", "embedding", m = 2,
      dsub = 4, ksub = 4))
    assert(cbs == Pq.train(embeddings(spark), "vec_id", "embedding", m = 2,
      dsub = 4, ksub = 4))
    val codes = sameOnBoth(s => Pq.encode(embeddings(s), "vec_id", "embedding", cbs))
    assertKernels(codes, "pq_codes")
    val adc = sameOnBoth(s => Pq.adcTopK(embeddings(s),
      embeddings(s).where(col("vec_id") < 4), "vec_id", "embedding", cbs, k = 3))
    assertKernels(adc, "pq_dot_table")
  }

  test("relational: bloomPrunedJoin") {
    def probe(s: SparkSession) =
      frame(s, (1L to 200L).map(i => (i % 37, i)), "pk", "pv")
    def build(s: SparkSession) =
      frame(s, Seq((3L, "x"), (10L, "y"), (36L, "z")), "bk", "bv")
    val joined = sameOnBoth(s => Relational.bloomPrunedJoin(probe(s), build(s),
      "pk", "bk", expectedItems = 100, numBits = 4096))
    assertKernels(joined, "might_contain")
  }

  test("lpa frontier telemetry follows the frames' session, not the active one") {
    val edges = frame(plain, Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)), "src", "dst")
    val log = new java.io.ByteArrayOutputStream()
    plain.conf.set("graft.graph.logFrontier", "true")
    try Console.withOut(log) {
      active(Graph.labelPropagation(edges, iters = 5).collect())
    } finally plain.conf.unset("graft.graph.logFrontier")
    assert(!spark.conf.getOption("graft.graph.logFrontier").contains("true"))
    assert(log.toString.linesIterator.exists(_.startsWith(
      "graft.frontier op=lpa round=1 size=")), log.toString)
  }
}
