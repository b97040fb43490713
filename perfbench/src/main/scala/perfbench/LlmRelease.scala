package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Ckpt
import graft.ext.{Bpe, Dedup, TextOps}

/** `llm_release`: a batch corpus release over a seeded derived corpus
  * with recorded exact- and near-duplicate shares. Each op runs the
  * release composition (exact dedup groups, verified near-dup pairs,
  * near-dup group drop, quality filter, split label, redaction) plus BPE
  * encoding with merges trained at set-up. Its cost is in the `ext`
  * kernels, their shuffles and the eager jobs (checkpoints, probes) the
  * dedup operators start; `etl_api`'s per-call constant is a small share. */
final class LlmRelease(spark: SparkSession, dir: String, seed: Long, cpus: Int, t0: Tracer)
    extends Workload(spark, dir, seed, cpus) {
  val unit = "docs"
  // a release is a batch job run once per process, so the window times
  // the first two releases after set-up
  override val roundOps = 2
  private val nDocs = LlmRelease.nDocs
  private val (exactShare, nearShare) = (0.1, 0.1)

  locally {
    Gen.write(dir, Map("documents" -> new Gen(spark, seed).documents(nDocs, exactShare, nearShare)))
  }
  private val merges: Seq[(String, String)] = {
    val docs = table(t0, "documents")
    t0.call("ext.bpe", "Bpe.train")(Bpe.train(spark, docs, "text", merges = 6)
      .orderBy("merge_rank").collect().map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq)
  }
  val inputs: Map[String, Any] = Map(
    "docs" -> nDocs, "exact_dup_share" -> exactShare, "near_dup_share" -> nearShare,
    "bpe_merges" -> merges.size)

  def run(k: Int, t: Tracer): Out = t.call("ckpt", "Ckpt.releasing")(Ckpt.releasing {
    val docs = table(t, "documents")
    val groups = t.call("ext.dedup", "Dedup.exactDedupGroups")(
      Dedup.exactDedupGroups(docs, "text", "doc_id")).persist()
    val d1 = docs.join(groups.select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pairs = t.call("ext.dedup", "Dedup.nearDupPairs")(
      Dedup.nearDupPairs(d1, "doc_id", "text", threshold = 0.7)).persist()
    val d2 = t.call("ext.dedup", "Dedup.dropNearDupGroups")(Dedup.dropNearDupGroups(d1, pairs, "doc_id"))
    val rel = t.call("ext.textops", "TextOps.quality/split/redact")(
      TextOps.qualityColumns(d2, "text").where(col("q_score") >= 0.5)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("q_score"),
          TextOps.splitLabel(col("text")).as("split"), TextOps.redact(col("text")).as("redacted")))
      .persist()
    val toks = t.call("ext.bpe", "Bpe.encode")(Bpe.encode(rel, "doc_id", "redacted", merges))
    val res = t.materialise(LlmRelease.Result(groups.collect(),
      pairs.select("a_id", "b_id").collect(), rel.collect(), toks.collect()))
    Seq(groups, d1, pairs, rel).foreach(_.unpersist())
    Out("release", res)
  })

  def units(o: Out): Long = nDocs

  /** Reference data for the checks, computed once outside any op. */
  private lazy val ref = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val (exact, near) = Gen.replicaIds(nDocs, exactShare, nearShare)
    val rows = TextOps.qualityColumns(docs, "text").select("doc_id", "text", "q_score").collect()
    val q = rows.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val sh = rows.map(r => r.getLong(0) -> LlmRelease.shingles(r.getString(1))).toMap
    // planted near replicas (q >= 0.5) that do have a smaller-id doc at
    // shingle Jaccard >= 0.7: these must not be released
    val byShingle = sh.toSeq.flatMap { case (id, xs) => xs.map(_ -> id) }.groupMap(_._1)(_._2)
    val trueNear = near.map(_.toLong).filter { id =>
      q(id) >= 0.5 && sh(id).flatMap(byShingle).exists(o => o < id && LlmRelease.jaccard(sh(id), sh(o)) >= 0.7)
    }.toSet
    (exact, q, rows.map(_.getString(1)).distinct.length, sh, trueNear)
  }

  def check(k: Int, o: Out): Option[String] = {
    val r = o.value.asInstanceOf[LlmRelease.Result]
    val (exactIds, qScore, distinctTexts, sh, trueNear) = ref
    val kept = r.groups.map(_.getLong(0))
    val relIds = r.rel.map(_.getAs[Long]("doc_id"))
    // component of every doc = min id reachable through verified pairs
    val compMin = LlmRelease.componentMin(r.pairs.map(p => (p.getLong(0), p.getLong(1))))
    val survivors = kept.filter(id => compMin.getOrElse(id, id) == id)
    val expected = survivors.filter(id => qScore(id) >= 0.5).toSet
    firstError(
      () => expect(r.groups.map(_.getLong(1)).sum == nDocs, "exact groups do not cover the input"),
      () => expect(r.groups.length == distinctTexts, s"${r.groups.length} groups for $distinctTexts texts"),
      () => expect(!relIds.exists(id => exactIds.contains(id.toInt)), "an exact replica was released"),
      () => r.pairs.collectFirst {
        case p if LlmRelease.jaccard(sh(p.getLong(0)), sh(p.getLong(1))) < 0.7 =>
          s"pair (${p.getLong(0)}, ${p.getLong(1)}) has shingle Jaccard below 0.7"
      },
      () => {
        // LSH misses a pair at Jaccard 0.7 with probability ~1.2 %
        val caught = (trueNear -- relIds).size
        expect(trueNear.size >= nDocs * nearShare / 2 && caught >= 0.95 * trueNear.size,
          s"$caught of ${trueNear.size} planted near replicas kept out of the release")
      },
      () => expect(relIds.toSet == expected && relIds.length == expected.size,
        s"released ${relIds.length} docs, expected ${expected.size} (component minima with q >= 0.5)"),
      () => expect(r.rel.forall(x => Set("train", "dev", "test")(x.getAs[String]("split"))), "bad split label"),
      () => expect(!r.rel.exists(x => LlmRelease.pii.findFirstIn(x.getAs[String]("redacted")).isDefined),
        "unredacted PII in a released doc"),
      () => {
        val text = r.rel.map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("redacted")).toMap
        expect(r.toks.length == r.rel.length && r.toks.forall { x =>
          text.get(x.getLong(0)).exists(_.replace(" ", "") == x.getString(1).replace(" ", ""))
        }, "BPE tokens do not reassemble the released text")
      })
  }

  override def traceExtras(): Map[String, Any] = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val d1 = docs.join(Dedup.exactDedupGroups(docs, "text", "doc_id")
      .select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi").persist()
    val verified = Dedup.nearDupPairs(d1, "doc_id", "text", threshold = 0.7).count()
    val candidates = Dedup.nearDupCandidates(d1, "doc_id", "text").count()
    d1.unpersist()
    Map("verified_pairs" -> verified, "candidate_pairs" -> candidates)
  }
}

object LlmRelease {
  val nDocs = 2000L
  final case class Result(groups: Array[Row], pairs: Array[Row], rel: Array[Row], toks: Array[Row])
  val pii = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}|[0-9]{6,}".r

  /** Distinct word 3-shingles, as `TextOps.shingles` builds them. */
  def shingles(text: String): Set[String] = {
    val w = text.split(" ", -1)
    if (w.length < 3) Set(w.mkString(" ")) else w.sliding(3).map(_.mkString(" ")).toSet
  }
  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** Union-find over pair endpoints: node -> minimum id of its component. */
  def componentMin(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }
}
