package graft.queries
import graft.Ckpt.CkptOps

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Multimodal, Packing, Paragraphs, Sampling, Similarity, TextOps}
import graft.io.{Stage, Tables}

/** Registry entries for the LLM-data-pipeline layer (SURVEY.md §2.11) over
  * `documents` / `embeddings`. SQL-expressible operators get a DuckDB
  * oracle (including dedup_near, whose oracle is BRUTE-FORCE exact Jaccard —
  * the banded-MinHash path must reproduce it exactly, which it does with
  * 64 hashes / 16 bands at miss probability ~1e-8 per true pair);
  * hash-based ops (simhash, fingerprint, LSH) are registered rows-only.
  */
object LlmQueries {

  /** DuckDB fragment: distinct word 3-shingles of `text` (mirrors
    * [[graft.ext.TextOps.shingles]] INCLUDING the short-doc branch: documents
    * with fewer than 3 tokens collapse to one whole-text shingle — without
    * the CASE, the transform would index past the token list and produce a
    * [NULL] shingle set, silently missing exact-dup short docs). */
  private val duckShingles =
    """CASE WHEN len(string_split(text,' ')) < 3
      |    THEN [array_to_string(string_split(text,' '), ' ')]
      |    ELSE list_distinct(list_transform(
      |      generate_series(1, len(string_split(text,' '))-2),
      |      i -> string_split(text,' ')[i] || ' ' ||
      |        string_split(text,' ')[i+1] || ' ' ||
      |        string_split(text,' ')[i+2]))
      |    END""".stripMargin

  private val duckStop = "('the','a','of','and','is')"

  /** The applied near-clean contract — docs minus the larger id of every
    * verified ≥ 0.7 pair — shared VERBATIM by `pipeline_near_clean` and
    * its exact-pre-collapse sibling (see that Reg for the equivalence
    * argument). */
  private lazy val nearCleanSql: String =
    s"""WITH s AS (SELECT doc_id, $duckShingles AS sh FROM documents),
       |pairs AS (
       |  SELECT b.doc_id AS b_id
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.7)
       |SELECT doc_id, lang, source FROM documents
       |WHERE doc_id NOT IN (SELECT b_id FROM pairs)""".stripMargin

  /** Brute-force replay of incremental near-dedup vs the persisted
    * even-doc index — shared VERBATIM by `dedup_incr_near_persisted` and
    * its streaming twin `stream_near_dedup`: a batch (odd) doc survives
    * iff no corpus (even) doc and no earlier (smaller-id) batch doc is a
    * shingle-Jaccard near-duplicate. */
  private lazy val incrNearPersistedSql: String =
    s"""WITH s AS (SELECT doc_id, $duckShingles AS sh FROM documents),
       |b AS (SELECT * FROM s WHERE doc_id % 2 = 1),
       |c AS (SELECT * FROM s WHERE doc_id % 2 = 0)
       |SELECT d.doc_id, d.lang, d.source FROM documents d
       |JOIN b ON d.doc_id = b.doc_id
       |WHERE NOT EXISTS (SELECT 1 FROM c
       |  WHERE CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE) /
       |    (len(b.sh) + len(c.sh) - len(list_intersect(b.sh, c.sh)))
       |    >= 0.7)
       |AND NOT EXISTS (SELECT 1 FROM b b2
       |  WHERE b2.doc_id < b.doc_id
       |  AND CAST(len(list_intersect(b.sh, b2.sh)) AS DOUBLE) /
       |    (len(b.sh) + len(b2.sh) - len(list_intersect(b.sh, b2.sh)))
       |    >= 0.7)""".stripMargin

  /** DuckDB replay of the PQ chain ([[graft.ext.Pq]]): per-subspace
    * seeding, L2 assignment in dot-product form (c·c − 2·x·c, the only
    * form both engines compute identically), per-dim AVG means,
    * re-assignment, and the m-way ADC sum in fixed subspace order — the
    * full `SELECT (q_id, n_id, adc, rank ≤ limit)` the hash pins. Shared
    * by topk_sim_pq (limit = k) and the re-rank oracle (limit =
    * shortlist, wrapped in an exact-cosine re-scoring). */
  private def pqAdcSql(limit: Int): String = {
    val (m, dsub, ksub) = (16, 4, 16)
    def assign(s: Int, cb: String) =
      s"""SELECT vec_id, sub, code FROM (
         |    SELECT x.vec_id, x.sub, c.code,
         |      row_number() OVER (PARTITION BY x.vec_id
         |        ORDER BY list_dot_product(c.c, c.c)
         |          - 2 * list_dot_product(x.sub, c.c), c.code) AS pr
         |    FROM sub_$s x, $cb c) WHERE pr = 1""".stripMargin
    val chains = (0 until m).map { s =>
      val (lo, hi) = (s * dsub + 1, (s + 1) * dsub)
      s"""sub_$s AS (SELECT vec_id, emb[$lo:$hi] AS sub FROM e),
         |seeds_$s AS (
         |  SELECT rn - 1 AS code, c FROM (
         |    SELECT row_number() OVER (
         |        ORDER BY md5(CAST(vec_id AS VARCHAR) || ':42'), vec_id)
         |      AS rn, sub AS c
         |    FROM sub_$s) WHERE rn <= $ksub),
         |a1_$s AS (${assign(s, s"seeds_$s")}),
         |c1_$s AS (SELECT code, list(v ORDER BY i) AS c FROM (
         |    SELECT code, i, AVG(sub[i]) AS v
         |    FROM a1_$s, unnest(generate_series(1, $dsub)) AS t(i)
         |    GROUP BY code, i) GROUP BY code),
         |afin_$s AS (${assign(s, s"c1_$s")}),
         |sc_$s AS (
         |  SELECT q.q_id, a.vec_id AS n_id,
         |    list_dot_product(q.emb[$lo:$hi], c.c) AS d
         |  FROM q, afin_$s a JOIN c1_$s c USING (code)
         |  WHERE a.vec_id <> q.q_id)""".stripMargin
    }.mkString(",\n")
    val adcSum = (0 until m).map(s => s"sc_$s.d").mkString(" + ")
    val joins = (1 until m).map(s => s"JOIN sc_$s USING (q_id, n_id)")
      .mkString(" ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
       |), q AS (SELECT vec_id AS q_id, emb FROM e WHERE vec_id < 20),
       |$chains
       |SELECT q_id, n_id, adc, rank FROM (
       |  SELECT q_id, n_id, ROUND($adcSum, 4) AS adc,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY ROUND($adcSum, 4) DESC, n_id) AS rank
       |  FROM sc_0 $joins
       |) WHERE rank <= $limit""".stripMargin
  }

  /** Stage the word co-occurrence graph ONCE per corpus for
    * text_keywords' TextRank: adjacent-word edges (bidirected,
    * deduplicated) annotated with per-src out-degree, written BUCKETED
    * BY src — the [[ExtQueries]] staged-purchase-edges
    * pattern for the vocabulary-sized word graph, so the corpus-sized
    * tokenize + explode + distinct derivation is an ingest-time cost
    * and a rank round's src-join reads the bucket layout Exchange-free.
    * Bucket count and consumer parallelism are sized to the recorded
    * |E| (count.txt). Returns (bucketedTableName, edgeCount). */
  private def stagedWordEdges(s: org.apache.spark.sql.SparkSession,
                              dir: String): (String, Long) = {
    val edgesDir = Stage.versioned("wordedges2", dir, "documents") { path =>
      val e0 = Tables(s, dir).documents
        .select(explode(TextOps.ngramTokens(col("text"), 2)).as("bigram"))
        .select(substring_index(col("bigram"), " ", 1).as("src"),
          substring_index(col("bigram"), " ", -1).as("dst"))
        .distinct()
      // bidirect THEN dedup: (a,b) and (b,a) may both occur as bigrams
      graft.io.Sinks.parquet(
        e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
          .distinct(),
        s"$path/edges.parquet")
      // edge count recorded beside the layout: consumers SIZE their
      // round parallelism and the bucket count to |E| instead of the
      // session default (a 31-node word graph under 32-partition
      // shuffles is 600+ near-empty tasks per query — measured 3.5 s of
      // pure scheduling at sf0.1, 2.3 s with matched parallelism)
      Stage.writeCount(s, path, "edges.parquet")
    }
    val nEdges = Stage.count(edgesDir)
    val tbl = Stage.bucketed(s, "wordedgesbkt", dir, "documents")(
        "src", Stage.buckets(nEdges)) {
      val e = s.read.parquet(s"$edgesDir/edges.parquet")
      e.join(
        e.groupBy("src").agg(count(lit(1)).cast("double").as("outdeg")),
        Seq("src"))
    }
    (tbl, nEdges)
  }

  /** Stage the even-doc corpus's near-dup index (band + shingle tables,
    * [[Dedup.corpusNearDupIndex]]) once per corpus — the ingest-time write
    * of the production incremental-dedup path. The stage key is the
    * documents table's signature ([[graft.io.Stage.sig]]: mtime + file
    * count), so a regenerated corpus at the same path restages instead of
    * serving a stale index. */
  private def stagedNearDupIndex(s: org.apache.spark.sql.SparkSession,
                                 dir: String): String = {
    Stage.versioned("neardupidx", dir, "documents") { path =>
      val (bands, sets) = Dedup.corpusNearDupIndex(
        Tables(s, dir).documents.where(col("doc_id") % 2 === 0),
        "doc_id", "text")
      graft.io.Sinks.parquet(bands, s"$path/corpus_bands.parquet")
      graft.io.Sinks.parquet(sets, s"$path/corpus_shingles.parquet")
    }
  }

  /** Stage the standing corpus' incremental-maintenance artifacts once —
    * what a production ingest pipeline persists so a daily batch never
    * touches the standing corpus again: its band+shingle index AND its
    * closed component labels. Base = 90% of docs (doc_id % 10 =!= 9);
    * the 10% batch is the realistic corpus/batch ratio that makes the
    * incremental win measurable (a 50% "batch" costs as much as a full
    * recompute because pair generation dominates). Keyed on the corpus
    * file identity like every staged artifact. */
  private def stagedIncrCorpus(s: org.apache.spark.sql.SparkSession,
                               dir: String): String = {
    // family carries a FORMAT version ("2" = +corpus_hashes.parquet):
    // Stage.sig tracks corpus identity only, so an artifact-format change
    // must bump the family or an already-staged version dir (old format,
    // same sig) would be served missing the new file
    Stage.versioned("incrcorpus2", dir, "documents") { path =>
      val old = Tables(s, dir).documents.where(col("doc_id") % 10 =!= 9)
      val (bands, sets) = Dedup.corpusNearDupIndex(old, "doc_id", "text")
      graft.io.Sinks.parquet(bands, s"$path/corpus_bands.parquet")
      graft.io.Sinks.parquet(sets, s"$path/corpus_shingles.parquet")
      // content-hash set beside the near-dup index: the EXACT-dedup
      // lookup side, so a batch's exact pass touches hashes, never text
      graft.io.Sinks.parquet(
        old.select(TextOps.md5Hash60(col("text")).as("content_hash"))
          .distinct(),
        s"$path/corpus_hashes.parquet")
      // base closure from the just-written shingle sets (one corpus scan)
      val setsBack = s.read.parquet(s"$path/corpus_shingles.parquet").persist()
      graft.io.Sinks.parquet(
        Dedup.connectedComponents(Dedup.nearDupPairsFromSets(setsBack)),
        s"$path/base_components.parquet")
      setsBack.unpersist()
    }
  }

  /** Stage the corpus inverted index ([[TextOps.invertedIndex]]) once per
    * corpus — the write-once search artifact term lookups read back, so
    * query-time cost tracks the queried postings, never the corpus text. */
  private def stagedInvertedIndex(s: org.apache.spark.sql.SparkSession,
                                  dir: String): String = {
    Stage.versioned("invidx", dir, "documents") { path =>
      graft.io.Sinks.parquet(
        TextOps.invertedIndex(Tables(s, dir).documents),
        s"$path/postings.parquet")
    }
  }

  /** Stage the trained BPE merge table once per corpus (written through
    * [[graft.io.Sinks.parquet]]) — the train-once-at-ingest artifact the
    * persisted encode path reads back. */
  private def stagedBpeMerges(s: org.apache.spark.sql.SparkSession,
                              dir: String): String = {
    Stage.versioned("bpemerges", dir, "documents") { path =>
      graft.io.Sinks.parquet(
        graft.ext.Bpe.train(s, Tables(s, dir).documents, "text", merges = 20),
        s"$path/bpe_merges.parquet")
    }
  }

  /** Shared replay for the kmeans-IVF search result: `topk_sim_ivf_kmeans`
    * (train-in-plan) and `topk_sim_ivf_persisted` (read the staged index)
    * must return the IDENTICAL frame, so they share this oracle verbatim —
    * the persisted variant's hash match additionally proves staged index ≡
    * freshly-trained index. */
  private def ivfKmeansSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
       |), ${kmCtes()}
       |, probes AS (
       |  SELECT q.vec_id AS q_id, q.emb AS q_emb, c.cell,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_dot_product(q.emb, c.cu) DESC, c.cell DESC) AS pr
       |  FROM afin q, sfin c WHERE q.vec_id < 20
       |), cand AS (
       |  SELECT p.q_id, p.q_emb, n.vec_id AS n_id, n.emb AS n_emb
       |  FROM probes p JOIN afin n ON n.cell = p.cell
       |  WHERE p.pr <= 3 AND n.vec_id <> p.q_id
       |)
       |SELECT q_id, n_id, sim, rank FROM (
       |  SELECT q_id, n_id,
       |    ROUND(list_cosine_similarity(q_emb, n_emb), 4) AS sim,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY ROUND(list_cosine_similarity(q_emb, n_emb), 4) DESC,
       |        n_id) AS rank
       |  FROM cand) WHERE rank <= 5""".stripMargin

  /** Stage the trained ANN index once per corpus — the production shape:
    * IVF cell assignments + their centroids, and PQ codebooks + the
    * encoded codes table, written at ingest (the train-once cost) so
    * every search run reads trained state back instead of re-deriving it
    * per query. Same md5-seeded geometry as the train-in-plan queries, so
    * the shared oracles replay both identically. Keyed on the embeddings
    * file identity like every staged artifact. */
  private def stagedAnnIndex(s: org.apache.spark.sql.SparkSession,
                             dir: String): String = {
    Stage.versioned("annidx", dir, "embeddings") { path =>
      val e = Tables(s, dir).embeddings
      val seedHash = Some(md5(concat(col("vec_id").cast("string"),
        lit(":42"))))
      val cells = graft.ext.Ivf.kmeansCells(e, "vec_id", "embedding",
        k = 8, iters = 2, orderHash = seedHash)
      graft.io.Sinks.parquet(cells, s"$path/ivf_cells.parquet")
      // centroids from the just-written assignments (one bounded agg)
      graft.io.Sinks.parquet(
        graft.ext.Ivf.centroids(
          s.read.parquet(s"$path/ivf_cells.parquet"), "cell", "embedding"),
        s"$path/ivf_centroids.parquet")
      val cbs = graft.ext.Pq.train(e, "vec_id", "embedding",
        m = 16, dsub = 4, ksub = 16, orderHash = seedHash)
      graft.io.Sinks.parquet(graft.ext.Pq.codebooksDf(s, cbs),
        s"$path/pq_codebooks.parquet")
      graft.io.Sinks.parquet(
        graft.ext.Pq.encode(e, "vec_id", "embedding", cbs),
        s"$path/pq_codes.parquet")
    }
  }

  /** DuckDB fragment: the seeded sign-LSH bucket CASE over `tables` plane
    * sets — shared by every LSH oracle replay (cosine, MIPS-augmented,
    * NDCG eval) so the plane literals cannot drift between them. */
  private def lshBucketCaseSql(nPlanes: Int, dim: Int, seedBase: Long,
                               vec: String, tables: Int = 4): String =
    (0 until tables).map { t =>
      val bucketExpr = Similarity.lshPlanes(nPlanes, dim, seedBase + t)
        .zipWithIndex.map { case (p, i) =>
          s"(CASE WHEN list_dot_product($vec, [${p.mkString(", ")}]) >= 0" +
            s" THEN ${1L << i} ELSE 0 END)"
        }.mkString(" + ")
      s"WHEN $t THEN $bucketExpr"
    }.mkString(" ")

  /** DuckDB fragment: the brute-force verified near-dup pair list (same
    * predicate as the dedup_near oracle, ids only) — the input both engines
    * agree on before any grouping. */
  private val duckPairs =
    """SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM s a JOIN s b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.7"""
      .stripMargin

  /** DuckDB fragment: transitive closure of the pair list → per-doc
    * component minimum (the oracle for the large-star/small-star result;
    * the recursive CTE is fine at oracle scale, quadratic at real scale —
    * which is exactly why the Spark side uses star contractions instead). */
  private val duckComponents =
    s"""und AS (SELECT a_id AS u, b_id AS v FROM pairs
       |       UNION SELECT b_id, a_id FROM pairs),
       |reach AS (SELECT u, v FROM und
       |          UNION
       |          SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
       |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
       |         FROM reach GROUP BY u)""".stripMargin

  /** DuckDB fragments: the unrolled-Lloyd kmeans replay (iters = 2, k = 8,
    * md5-ordered seeding) shared by `topk_sim_ivf_kmeans` and `ann_recall`.
    * Each assumes a CTE `e(vec_id, emb DOUBLE[])` is in scope. */
  private def kmUnitized(src: String) =
    s"SELECT cell, list_transform(c, x -> x / sqrt(list_dot_product(c, c))) AS cu FROM $src"
  private def kmAssigned(cu: String) =
    s"""SELECT vec_id, emb, cell FROM (
       |    SELECT q.vec_id, q.emb, c.cell,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_dot_product(q.emb, c.cu) DESC, c.cell DESC)
       |        AS pr
       |    FROM e q, $cu c) WHERE pr = 1""".stripMargin
  private def kmMeaned(a: String) =
    s"""SELECT cell, list(v ORDER BY i) AS c FROM (
       |    SELECT cell, i, AVG(emb[i]) AS v
       |    FROM $a, unnest(generate_series(1, 64)) AS t(i)
       |    GROUP BY cell, i) GROUP BY cell""".stripMargin
  /** CTE chain `seeds .. afin/sfin`: final assignment (afin) + final unit
    * centroids (sfin) after 2 Lloyd rounds. Splice after an `e` CTE. `k`
    * is the cell count the Spark side used (8 for the search queries, 64
    * for `dedup_semantic` where cell population bounds pair fan-out). */
  private def kmCtes(k: Int = 8): String =
    s"""seeds AS (
       |  SELECT rn - 1 AS cell, c FROM (
       |    SELECT row_number() OVER (
       |        ORDER BY md5(CAST(vec_id AS VARCHAR) || ':42'), vec_id)
       |      AS rn, emb AS c
       |    FROM e) WHERE rn <= $k
       |), s0 AS (${kmUnitized("seeds")}
       |), a1 AS (${kmAssigned("s0")}
       |), c1 AS (${kmMeaned("a1")}
       |), s1 AS (${kmUnitized("c1")}
       |), a2 AS (${kmAssigned("s1")}
       |), c2 AS (${kmMeaned("a2")}
       |), s2 AS (${kmUnitized("c2")}
       |), afin AS (${kmAssigned("s2")}
       |), cfin AS (${kmMeaned("afin")}
       |), sfin AS (${kmUnitized("cfin")})""".stripMargin

  /** DuckDB fragment: the shared score/rank/top-5 contract over a CTE
    * `$cand(q_id, n_id, q_emb, n_emb)` — rounded cosine, n_id tiebreak. */
  private def top5Of(cand: String, cols: String = "q_id, n_id, sim, rank") =
    s"""SELECT $cols FROM (
       |  SELECT q_id, n_id,
       |    ROUND(list_cosine_similarity(q_emb, n_emb), 4) AS sim,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY ROUND(list_cosine_similarity(q_emb, n_emb), 4) DESC,
       |        n_id) AS rank
       |  FROM $cand) WHERE rank <= 5""".stripMargin

  /** DuckDB fragment: the bounded linear quality score of
    * [[graft.ext.TextOps.qualityColumns]] over a column named `text`. */
  private val duckQScore =
    s"""least(CAST(len(string_split(text,' ')) AS BIGINT) / 100.0, 1.0) * 0.5
       |    + (1.0 - least((CAST(len(list_filter(string_split(text,' '), w -> w IN $duckStop)) AS DOUBLE)
       |                    / len(string_split(text,' '))) * 2.0, 1.0)) * 0.3
       |    + least((CAST(length(replace(text,' ','')) AS DOUBLE)
       |             / len(string_split(text,' '))) / 8.0, 1.0) * 0.2""".stripMargin

  /** DuckDB fragments shared by the standalone split/redact queries and the
    * release pipeline — ONE copy per pattern so the flagship cannot drift
    * from the ops it composes (Scala side: TextOps.splitLabel/redact). */
  private val duckSplitCase =
    """CASE WHEN CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 10 < 8
      |         THEN 'train'
      |       WHEN CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 10 = 8
      |         THEN 'dev'
      |       ELSE 'test' END""".stripMargin

  private val duckRedact =
    """regexp_replace(regexp_replace(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |    '[0-9]{6,}', '[NUM]', 'g')""".stripMargin

  val all: Seq[Reg] = Seq(

    // FLAGSHIP COMPOSITION — the corpus RELEASE pipeline, one lazy plan:
    // exact dedup (keep min id per content) → near-dup group
    // canonicalization (MinHash candidates → exact-Jaccard verify →
    // connected components, keep component min) → quality threshold →
    // deterministic content-hash split assignment → PII redaction. The
    // oracle replays every stage in SQL (recursive-CTE closure for the
    // groups), so the whole five-stage composition is hash-checked
    // end-to-end, not just stage-by-stage. The exact-deduped frame `d1`
    // is persist()ed (MEMORY_AND_DISK): the signature build and the
    // group-drop anti join both consume it, and the lazy plan would
    // re-derive the scan + sha2 groupBy + semi join per consumer — at
    // 100 TB that is two full corpus passes for one. The handle is
    // released by the ContextCleaner when the plan is GC'd.
    Reg("pipeline_release", Some(
      s"""WITH RECURSIVE kept AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
         |), d1 AS (
         |  SELECT d.* FROM documents d JOIN kept USING (doc_id)
         |), s AS (
         |  SELECT doc_id, $duckShingles AS sh FROM d1
         |), pairs AS ($duckPairs),
         |$duckComponents,
         |d2 AS (
         |  SELECT d1.* FROM d1
         |  WHERE NOT EXISTS (SELECT 1 FROM comp c
         |                    WHERE c.doc_id = d1.doc_id
         |                      AND c.component <> d1.doc_id)
         |)
         |SELECT doc_id, lang,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
         |  $duckQScore AS q_score,
         |  $duckSplitCase AS split,
         |  $duckRedact AS redacted
         |FROM d2
         |WHERE $duckQScore >= 0.5""".stripMargin))(
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val kept = Dedup.exactDedupGroups(docs, "text", "doc_id")
          .select(col("keep_id").as("doc_id"))
        val d1 = docs.join(kept, Seq("doc_id"), "left_semi")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val pairs = Dedup.nearDupPairs(d1, "doc_id", "text", threshold = 0.7)
        val d2 = Dedup.dropNearDupGroups(d1, pairs, "doc_id")
        TextOps.qualityColumns(d2, "text")
          .where(col("q_score") >= 0.5)
          .select(col("doc_id"), col("lang"), col("n_tokens"), col("q_score"),
            TextOps.splitLabel(col("text")).as("split"),
            TextOps.redact(col("text")).as("redacted"))
      }),

    // Exact dedup: one row per distinct content, kept id + copy count.
    // The oracle groups by the text itself — identical up to sha2 collision.
    Reg("dedup_exact", Some(
      """SELECT min(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin))(
      (s, dir) => Dedup.exactDedupGroups(Tables(s, dir).documents, "text", "doc_id")),

    // Near dedup: banded MinHash candidates + exact-Jaccard verify vs the
    // oracle's brute-force exact Jaccard over all pairs.
    Reg("dedup_near", Some(
      s"""WITH s AS (SELECT doc_id, $duckShingles AS sh FROM documents)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.7"""
        .stripMargin))(
      (s, dir) => Dedup.nearDupPairs(Tables(s, dir).documents, "doc_id", "text",
        threshold = 0.7)),

    // EXACT set-similarity join via rarest-first prefix filtering
    // ([[Dedup.setSimJoinPrefix]], the AllPairs/PPJoin family): lossless by
    // construction, so the oracle is plain brute force — any hash mismatch
    // would mean the prefix/length filters dropped a qualifying pair.
    Reg("dedup_setsim", Some(
      s"""WITH s AS (SELECT doc_id, $duckShingles AS sh FROM documents)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5"""
        .stripMargin))(
      (s, dir) => Dedup.setSimJoinPrefix(Tables(s, dir).documents,
        "doc_id", "text", threshold = 0.5)),

    // The DEFENDED near-dup shape for clone-heavy corpora (SCALE.md
    // "Clone-heavy corpora"; sf10-measured 179.9 -> 3.3 s): exact-dup
    // pre-collapse to the min-id representative per content, then band
    // only the representatives — identical docs are Jaccard-1 near-dups
    // by definition, so the within-group c²/2 pair volume never exists.
    // Oracle = brute force over the same representatives.
    Reg("dedup_near_collapsed", Some(
      s"""WITH r AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         |s AS (SELECT doc_id, $duckShingles AS sh
         |      FROM documents JOIN r USING (doc_id))
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.7"""
        .stripMargin))(
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val keep = Dedup.exactDedupGroups(docs, "text", "doc_id")
          .select(col("keep_id").as("doc_id"))
        Dedup.nearDupPairs(docs.join(keep, Seq("doc_id"), "left_semi"),
          "doc_id", "text", threshold = 0.7)
      }),

    // Character-n-gram Jaccard near-dup — the non-hashed dedup family
    // member, exact within a block. Blocked on the 20-char text PREFIX
    // (classic prefix blocking): block sizes stay O(dup-group), so the
    // within-block brute force is linear-ish — a lang-level block was
    // measured quadratic-catastrophic (2059-doc block -> 2.1M pairs ->
    // 285 s at sf0.1; prefix blocks max out at 4 docs -> 0.3 s). The
    // oracle replays the same blocks, so parity is exact by construction.
    Reg("dedup_ngram", kind = "arm", oracle = Some(
      """WITH g AS (SELECT substr(text, 1, 20) AS block, doc_id,
        |  list_distinct(list_transform(
        |    generate_series(1, greatest(length(text) - 4, 1)),
        |    i -> substr(text, i, 5))) AS gr
        |  FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) /
        |    (len(a.gr) + len(b.gr) - len(list_intersect(a.gr, b.gr))) AS jaccard
        |FROM g a JOIN g b ON a.block = b.block AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) /
        |    (len(a.gr) + len(b.gr) - len(list_intersect(a.gr, b.gr))) >= 0.4"""
        .stripMargin))(
      (s, dir) => Dedup.ngramJaccardPairs(
        Tables(s, dir).documents
          .withColumn("prefix20", substring(col("text"), 1, 20)),
        "doc_id", "text", blockCol = "prefix20", k = 5, threshold = 0.4)),

    // Near-dup group canonicalization: connected components over the
    // verified pair list — every doc mapped to the minimum id reachable
    // through any chain of near-dup pairs (its canonical representative).
    // Spark runs O(log n) large-star/small-star rounds; the oracle replays
    // the same pairs through a recursive-CTE transitive closure.
    Reg("dedup_groups", Some(
      s"""WITH RECURSIVE s AS (SELECT doc_id, $duckShingles AS sh FROM documents),
         |pairs AS ($duckPairs),
         |$duckComponents
         |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
         |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin))(
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.7)
        docs.select("doc_id")
          .join(Dedup.connectedComponents(pairs)
            .withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("component"))
      }),

    // INCREMENTAL group maintenance — dedup_groups' answer computed the
    // way a standing 100 TB corpus must: the base closure (doc_id % 10
    // =!= 9, the 90% standing corpus of stagedIncrCorpus)
    // and the band+shingle index are PERSISTED ingest-time artifacts
    // (staged once, read back), so the per-batch cost is delta pair
    // generation + closing the CONTRACTED delta graph only — corpus text
    // is never re-scanned and the standing closure is never re-run. The
    // oracle is dedup_groups' full-corpus recursive closure VERBATIM — a
    // hash match proves the incremental path is exactly equivalent to
    // recomputing from scratch.
    Reg("dedup_groups_incr", Some(
      s"""WITH RECURSIVE s AS (SELECT doc_id, $duckShingles AS sh FROM documents),
         |pairs AS ($duckPairs),
         |$duckComponents
         |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
         |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin))(
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val batch = docs.where(col("doc_id") % 10 === 9)
        val idx = stagedIncrCorpus(s, dir)
        val base = s.read.parquet(s"$idx/base_components.parquet")
        val delta = Dedup.incrementalNearDupPairs(
          s.read.parquet(s"$idx/corpus_bands.parquet"),
          s.read.parquet(s"$idx/corpus_shingles.parquet"),
          batch, "doc_id", "text", threshold = 0.7)
        docs.select("doc_id")
          .join(Dedup.incrementalComponents(base, batch.select("doc_id"), delta)
            .withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("component"))
      }),

    // THE INGEST-A-BATCH COMPOSITION (round-13 verdict demand #4): one
    // registered query that takes the arriving batch (doc_id % 10 = 9)
    // and, against the PERSISTED corpus state only (content-hash set,
    // band+shingle index, base closure — [[stagedIncrCorpus]]; corpus
    // text is never re-scanned, PlanSpec pins it), runs the full daily
    // pipeline: (1) exact dedup vs the hash set + keep-first within
    // batch, (2) incremental near-dedup of the exact survivors vs the
    // band index, (3) label fold — the batch's delta pairs closed into
    // the base closure via the DELTA-sized update journal
    // ([[Dedup.incrementalComponentJournal]]), (4) index append — the
    // accepted docs' band/shingle/hash contributions and the label
    // journal WRITTEN (batch-sized, the standing index is never
    // rewritten) and read back to produce the result, so a broken
    // append breaks the hash. Output: one row per batch doc —
    // (doc_id, status ∈ {dup_exact, dup_near, accepted}, component).
    // Oracle: the from-scratch recompute — md5 replay for exact,
    // brute-force Jaccard for near, recursive-CTE closure for the fold.
    Reg("pipeline_ingest_batch", Some(
      s"""WITH RECURSIVE s AS (SELECT doc_id, $duckShingles AS sh FROM documents),
         |pairs AS ($duckPairs),
         |$duckComponents,
         |bh AS (SELECT doc_id,
         |         CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h
         |       FROM documents WHERE doc_id % 10 = 9),
         |ch AS (SELECT DISTINCT
         |         CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h
         |       FROM documents WHERE doc_id % 10 <> 9),
         |ex AS (SELECT b.doc_id FROM bh b
         |       WHERE EXISTS (SELECT 1 FROM ch WHERE ch.h = b.h)
         |          OR EXISTS (SELECT 1 FROM bh b2
         |                     WHERE b2.h = b.h AND b2.doc_id < b.doc_id)),
         |nr AS (SELECT b.doc_id FROM s b
         |       WHERE b.doc_id % 10 = 9
         |         AND b.doc_id NOT IN (SELECT doc_id FROM ex)
         |         AND (EXISTS (SELECT 1 FROM s c
         |                WHERE c.doc_id % 10 <> 9
         |                  AND CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE) /
         |                    (len(b.sh) + len(c.sh)
         |                      - len(list_intersect(b.sh, c.sh))) >= 0.7)
         |           OR EXISTS (SELECT 1 FROM s b2
         |                WHERE b2.doc_id % 10 = 9
         |                  AND b2.doc_id < b.doc_id
         |                  AND b2.doc_id NOT IN (SELECT doc_id FROM ex)
         |                  AND CAST(len(list_intersect(b.sh, b2.sh)) AS DOUBLE) /
         |                    (len(b.sh) + len(b2.sh)
         |                      - len(list_intersect(b.sh, b2.sh))) >= 0.7)))
         |SELECT d.doc_id,
         |  CASE WHEN d.doc_id IN (SELECT doc_id FROM ex) THEN 'dup_exact'
         |       WHEN d.doc_id IN (SELECT doc_id FROM nr) THEN 'dup_near'
         |       ELSE 'accepted' END AS status,
         |  coalesce(c.component, d.doc_id) AS component
         |FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
         |WHERE d.doc_id % 10 = 9""".stripMargin))(
      (s, dir) => {
        val batch = Tables(s, dir).documents
          .where(col("doc_id") % 10 === 9)
        val idx = stagedIncrCorpus(s, dir)
        Dedup.ingestBatch(batch,
          s.read.parquet(s"$idx/corpus_bands.parquet"),
          s.read.parquet(s"$idx/corpus_shingles.parquet"),
          s.read.parquet(s"$idx/corpus_hashes.parquet"),
          s.read.parquet(s"$idx/base_components.parquet"),
          "doc_id", "text",
          outDir = Stage.scratch("ingestbatch", dir),
          threshold = 0.7, hash = TextOps.md5Hash60)
      }),

    // Canonical near-dedup APPLIED: keep exactly one representative (the
    // component minimum) per duplicate group — the transitive-closure
    // completion of pipeline_near_clean's single-pass keep-first policy.
    Reg("dedup_group_clean", Some(
      s"""WITH RECURSIVE s AS (SELECT doc_id, $duckShingles AS sh FROM documents),
         |pairs AS ($duckPairs),
         |$duckComponents
         |SELECT doc_id, lang, source FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM comp c
         |                  WHERE c.doc_id = d.doc_id AND c.component <> d.doc_id)"""
        .stripMargin))(
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.7)
        Dedup.dropNearDupGroups(docs, pairs, "doc_id")
          .select("doc_id", "lang", "source")
      }),

    // Group clean with the QUALITY keep policy: the best-scoring member
    // of each duplicate group survives (here score = text length; any
    // deterministic column works), ties to the smaller id — the
    // production alternative to min-id when duplicates differ in quality.
    // Oracle replays the recursive closure + the same (score desc, id)
    // argmax.
    Reg("dedup_group_keep_best", Some(
      s"""WITH RECURSIVE s AS (SELECT doc_id, $duckShingles AS sh FROM documents),
         |pairs AS ($duckPairs),
         |$duckComponents,
         |g AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
         |      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
         |SELECT doc_id, lang, source FROM (
         |  SELECT d.doc_id, d.lang, d.source,
         |    row_number() OVER (PARTITION BY g.component
         |      ORDER BY length(d.text) DESC, d.doc_id) AS rn
         |  FROM documents d JOIN g ON g.doc_id = d.doc_id) WHERE rn = 1"""
        .stripMargin))(
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.7)
        Dedup.dropNearDupGroupsKeepBest(docs, pairs, "doc_id",
          length(col("text")))
          .select("doc_id", "lang", "source")
      }),

    // Survivorship golden record ([[Dedup.goldenRecords]]): fuse each
    // near-dup CC group into one record, each attribute by its own rule —
    // longest text (tie → min id), modal lang (tie → smallest), max
    // n_chars — vs keep_best's one-winner-row policy. The oracle replays
    // the closure plus one window per rule.
    Reg("dedup_golden", Some(
      s"""WITH RECURSIVE s AS (SELECT doc_id, $duckShingles AS sh FROM documents),
         |pairs AS ($duckPairs),
         |$duckComponents,
         |asg AS (SELECT d.*, coalesce(c.component, d.doc_id) AS component
         |        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
         |base AS (SELECT component, COUNT(*) AS n_members,
         |           MIN(doc_id) AS keep_id, MAX(n_chars) AS n_chars
         |         FROM asg GROUP BY 1),
         |tx AS (SELECT component, text FROM (
         |         SELECT component, text, row_number() OVER (
         |           PARTITION BY component
         |           ORDER BY length(text) DESC, doc_id) AS rn FROM asg)
         |       WHERE rn = 1),
         |lg AS (SELECT component, lang FROM (
         |         SELECT component, lang, row_number() OVER (
         |           PARTITION BY component
         |           ORDER BY cnt DESC, lang) AS rn
         |         FROM (SELECT component, lang, COUNT(*) AS cnt
         |               FROM asg GROUP BY 1, 2))
         |       WHERE rn = 1)
         |SELECT component, n_members, keep_id, n_chars, text, lang
         |FROM base JOIN tx USING (component) JOIN lg USING (component)"""
        .stripMargin))(
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.7)
        val comp = docs.select("doc_id")
          .join(Dedup.connectedComponents(pairs)
            .withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("component"))
        Dedup.goldenRecords(docs.join(comp, Seq("doc_id")),
          "doc_id", "component", longestCols = Seq("text"),
          modalCols = Seq("lang"), maxCols = Seq("n_chars"))
      }),

    // Char-n-gram Jaccard with LSH candidates AS the block: closes the
    // prefix-20 recall hole (near-dups differing in the first 20 chars are
    // invisible to prefix blocking; LSH candidacy is edit-position-blind).
    // The oracle is the TRUE all-pairs brute force — no block replay — so
    // the hash compare certifies candidates+verify == brute force on this
    // corpus, the strongest available check for a candidate generator.
    Reg("dedup_ngram_lsh", Some(
      """WITH g AS (SELECT doc_id,
        |  list_distinct(list_transform(
        |    generate_series(1, greatest(length(text) - 4, 1)),
        |    i -> substr(text, i, 5))) AS gr
        |  FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) /
        |    (len(a.gr) + len(b.gr) - len(list_intersect(a.gr, b.gr))) AS jaccard
        |FROM g a JOIN g b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) /
        |    (len(a.gr) + len(b.gr) - len(list_intersect(a.gr, b.gr))) >= 0.4"""
        .stripMargin))(
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val cands = Dedup.nearDupCandidates(docs, "doc_id", "text")
        Dedup.ngramJaccardOverCandidates(docs, cands, "doc_id", "text",
          k = 5, threshold = 0.4)
      }),

    // SimHash near-dup pairs. 60-bit signatures over the md5-60-bit word
    // hash (with a shared vocabulary, 32 bits cannot separate true
    // near-dups; 60 keeps hamming <= 3 precise like 64 did). Hash-oracled
    // AND property-proving: the SQL computes per-word hashes, per-bit
    // majorities and the packed signature exactly, then takes BRUTE-FORCE
    // pairwise hamming — with maxDist(3) < bands(4) and no over-cap bucket
    // on this corpus, the engine's banded-LSH candidate join + exact verify
    // must equal brute force by pigeonhole, so a hash match certifies the
    // banding completeness, not just the hash arithmetic.
    Reg("dedup_simhash", Some {
      val bits = 60
      val bitSums = (0 until bits)
        .map(b => s"SUM((h >> $b) & 1) AS b$b").mkString(",\n    ")
      val packed = (0 until bits)
        .map(b => s"CASE WHEN b$b * 2 > n THEN ${1L << b} ELSE 0 END")
        .mkString(" + ")
      s"""WITH wds AS (
         |  SELECT doc_id,
         |    CAST('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 15)
         |      AS BIGINT) AS h
         |  FROM documents
         |), agg AS (
         |  SELECT doc_id, COUNT(*) AS n,
         |    $bitSums
         |  FROM wds GROUP BY doc_id
         |), sim AS (
         |  SELECT doc_id, $packed AS sim FROM agg
         |)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= 3""".stripMargin
    })(
      (s, dir) => Dedup.simhashPairs(Tables(s, dir).documents, "doc_id", "text",
        maxDist = 3, bits = 60, bands = 4, md5Hash = true)),

    // The DEFENDED exact-join shape for clone-heavy corpora: exact-dup
    // pre-collapse to the min-id representative per content, THEN the
    // prefix-filter join over representatives — identical clones are
    // Jaccard-1 pairs by definition, so the within-group c² pair volume
    // (the measured 14× sf0.1→sf1 blowup on the ×10-replica ScaleUp
    // corpus, BASELINE.md) never exists. Same posture as
    // dedup_near_collapsed.
    Reg("dedup_setsim_collapsed", Some(
      s"""WITH r AS (SELECT min(doc_id) AS doc_id FROM documents
         |           GROUP BY text),
         |s AS (SELECT doc_id, $duckShingles AS sh
         |      FROM documents JOIN r USING (doc_id))
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |    AS jaccard
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |    >= 0.5""".stripMargin))(
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val reps = docs.groupBy(col("text"))
          .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
        Dedup.setSimJoinPrefix(docs.join(reps, Seq("doc_id"), "left_semi"),
          "doc_id", "text", threshold = 0.5)
      }),

    // Sorted-neighborhood dedup ([[Dedup.sortedNeighborPairs]], Hernández
    // & Stolfo SIGMOD'95): the third candidate family — sort on a
    // normalized key prefix, verify only window-adjacent ranks. The oracle
    // replays the identical semantics with a global row_number window:
    // candidacy is a pure function of the sort ORDER (binary-identical on
    // both engines — keys are lowercased [a-z0-9] only, doc_id tiebreak),
    // so the two candidate sets match pair-for-pair.
    Reg("dedup_snm", Some(
      s"""WITH k AS (SELECT doc_id,
         |        substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
         |               1, 24) AS key,
         |        $duckShingles AS sh
         |      FROM documents),
         |r AS (SELECT doc_id, sh,
         |        row_number() OVER (ORDER BY key, doc_id) AS rn FROM k)
         |SELECT least(a.doc_id, b.doc_id) AS a_id,
         |  greatest(a.doc_id, b.doc_id) AS b_id,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |    AS jaccard
         |FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 3
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |    >= 0.5""".stripMargin))(
      (s, dir) => Dedup.sortedNeighborPairs(Tables(s, dir).documents,
        "doc_id", "text", window = 4, threshold = 0.5)),

    // Containment join ([[Dedup.containmentJoinPrefix]]): overlap over the
    // SMALLER set — catches a doc pasted inside a bigger one where Jaccard
    // stays near zero. Lossless prefix filtering again, so brute force IS
    // the oracle.
    Reg("dedup_containment", Some(
      s"""WITH s AS (SELECT doc_id, $duckShingles AS sh FROM documents)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    LEAST(len(a.sh), len(b.sh)) AS containment
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    LEAST(len(a.sh), len(b.sh)) >= 0.8""".stripMargin))(
      (s, dir) => Dedup.containmentJoinPrefix(Tables(s, dir).documents,
        "doc_id", "text", threshold = 0.8)),

    // Ensemble dedup: the UNION of two independent near-dup signals
    // (MinHash-LSH Jaccard ≥ 0.7, SimHash Hamming ≤ 3) feeds ONE
    // connected-components pass — the production posture where any
    // signal's edge merges groups, so a pair missed by one detector is
    // still caught by the other. Oracle replays both pair generators and
    // closes over their union with the recursive-CTE closure.
    Reg("dedup_ensemble", Some {
      val bits = 60
      val bitSums = (0 until bits)
        .map(b => s"SUM((h >> $b) & 1) AS b$b").mkString(",\n    ")
      val packed = (0 until bits)
        .map(b => s"CASE WHEN b$b * 2 > n THEN ${1L << b} ELSE 0 END")
        .mkString(" + ")
      s"""WITH RECURSIVE s AS (SELECT doc_id, $duckShingles AS sh
         |                     FROM documents),
         |mh AS ($duckPairs),
         |wds AS (
         |  SELECT doc_id,
         |    CAST('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 15)
         |      AS BIGINT) AS h
         |  FROM documents),
         |agg AS (SELECT doc_id, COUNT(*) AS n, $bitSums
         |        FROM wds GROUP BY doc_id),
         |simh AS (SELECT doc_id, $packed AS sim FROM agg),
         |hm AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |       FROM simh a JOIN simh b ON a.doc_id < b.doc_id
         |       WHERE bit_count(xor(a.sim, b.sim)) <= 3),
         |pairs AS (SELECT a_id, b_id FROM mh
         |          UNION SELECT a_id, b_id FROM hm),
         |$duckComponents
         |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
         |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin
    })(
      (s, dir) => {
        val docs = Tables(s, dir).documents
        // ONE tokenization pass feeds both detectors: the MinHash arm's
        // shingle sets derive from the persisted token frame and the
        // SimHash arm hashes the same tokens — previously each arm
        // re-split the corpus from raw text (three split passes total:
        // signatures, verification sets, simhash). Both arms return
        // eagerly (their pair sets localCheckpoint), so the caches
        // release before the CC pass runs.
        val tok = docs.select(col("doc_id").as("id"),
          TextOps.words(col("text")).as("w")).persist()
        val sets = tok.select(col("id"),
          TextOps.shinglesFromTokens(col("w"), 3).as("sh")).persist()
        val p1 = Dedup.nearDupPairsFromSets(sets, threshold = 0.7)
          .select("a_id", "b_id")
        val p2 = Dedup.simhashPairsFromTokens(tok, maxDist = 3,
          bits = 60, bands = 4, md5Hash = true)
          .select("a_id", "b_id")
        sets.unpersist()
        tok.unpersist()
        docs.select("doc_id")
          .join(Dedup.connectedComponents(p1.unionAll(p2).distinct())
            .withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("component"))
      }),

    // Embedding near-dup — the headline is the SCALE path: sign-LSH
    // buckets (2 planes → 4 buckets here; more planes → finer buckets at
    // corpus scale) bound the quadratic in-bucket pair cost by a PARAMETER
    // instead of label cardinality. Fully hash-oracled even though the
    // planes are seeded: the plane components embed into the SQL via
    // Double.toString (shortest round-trip decimal — DuckDB reconstructs
    // the identical doubles), list_dot_product on DOUBLE[] is the same
    // sequential double fold as Spark's HOF/vec_dot, so bucket assignment
    // AND pair scores replay exactly.
    Reg("dedup_embed", Some {
      val planeSql = Similarity.lshPlanes(nPlanes = 2, dim = 64).zipWithIndex
        .map { case (p, i) =>
          s"(CASE WHEN list_dot_product(emb, [${p.mkString(", ")}]) >= 0" +
            s" THEN ${1L << i} ELSE 0 END)"
        }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |           FROM embeddings),
         |b AS (SELECT vec_id, emb, $planeSql AS bucket FROM e)
         |SELECT x.vec_id AS a_id, y.vec_id AS b_id,
         |  ROUND(list_cosine_similarity(x.emb, y.emb), 4) AS sim
         |FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |WHERE ROUND(list_cosine_similarity(x.emb, y.emb), 4) >= 0.4"""
        .stripMargin
    })(
      (s, dir) => {
        val e = Tables(s, dir).embeddings.withColumn("lsh_bucket",
          Similarity.lshBucket(col("embedding"), nPlanes = 2, dim = 64))
        Similarity.embeddingNearDup(e, "vec_id", "embedding", "lsh_bucket",
          threshold = 0.4)
      }),

    // SemDeDup-style semantic dedup (cluster-then-prune): k-means cells via
    // the same md5-seeded unrolled-Lloyd chain the oracle replays (kmCtes,
    // k = 64 — cell population bounds the in-cell pair fan-out), cosine ≥
    // 0.4 pairs WITHIN cells, recursive-closure canonicalization to the
    // component-minimum id. The oracle re-derives cells, pairs, AND the
    // closure, so the hash pins the full cluster→prune→canonicalize chain.
    Reg("dedup_semantic", Some {
      s"""WITH RECURSIVE e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
         |), ${kmCtes(64)}
         |, pairs AS (
         |  SELECT x.vec_id AS a_id, y.vec_id AS b_id
         |  FROM afin x JOIN afin y
         |    ON x.cell = y.cell AND x.vec_id < y.vec_id
         |  WHERE ROUND(list_cosine_similarity(x.emb, y.emb), 4) >= 0.4
         |), $duckComponents
         |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
         |  coalesce(c.component, a.vec_id) AS component
         |FROM afin a LEFT JOIN comp c ON c.doc_id = a.vec_id""".stripMargin
    })(
      (s, dir) => Similarity.semanticDedup(
          Tables(s, dir).embeddings, "vec_id", "embedding",
          k = 64, iters = 2, threshold = 0.4,
          orderHash = Some(md5(concat(col("vec_id").cast("string"), lit(":42")))))
        .select(col("vec_id"), col("cell").cast("long").as("cell"),
          col("component"))),

    // Label-bucketed variant (cosine ≥ 0.4 — this corpus has no
    // high-cosine duplicates; max in-label cosine ≈ 0.47): the fixed
    // partition key is fine when labels are known to be bounded, but
    // bucket size follows label cardinality, which went 10× superlinear
    // sf0.1→sf1 (BASELINE.md) — hence demoted from the headline name.
    // DOUBLE[] cast: DuckDB's list_cosine_similarity computes in float32
    // on FLOAT[] inputs; the double-cast path is bit-identical to Spark's
    // double HOF fold.
    Reg("dedup_embed_label", kind = "arm", oracle = Some(
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
        |           FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  ROUND(list_cosine_similarity(a.emb, b.emb), 4) AS sim
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE ROUND(list_cosine_similarity(a.emb, b.emb), 4) >= 0.4"""
        .stripMargin))(
      (s, dir) => Similarity.embeddingNearDup(Tables(s, dir).embeddings,
        "vec_id", "embedding", "label", threshold = 0.4)),

    // Grouped corpus statistics.
    // Lexical richness ([[TextOps.hapax]]): per-source vocabulary size and
    // hapax-legomena share — template-heavy sources score low, noisy OCR
    // high. Exact counts; the ratio is one int/int division.
    Reg("text_hapax", Some(
      """WITH wc AS (
        |  SELECT source, w, COUNT(*) AS c FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS w
        |    FROM documents) GROUP BY 1, 2)
        |SELECT source, COUNT(*) AS n_types,
        |  CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
        |    AS hapax_ratio
        |FROM wc GROUP BY 1""".stripMargin))(
      (s, dir) => TextOps.hapax(Tables(s, dir).documents)),

    // Token-frequency Gini ([[TextOps.tokenGini]]): per-source mass
    // concentration — boilerplate/template sources concentrate token mass
    // in few types. Exact integer numerators (38-digit decimal products),
    // one division, r6; the rank window replays with the same (freq,
    // token) tiebreak (Gini itself is tie-order-insensitive).
    Reg("text_gini", Some(
      """WITH wc AS (SELECT source, w, COUNT(*) AS c FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS w
        |    FROM documents) GROUP BY 1, 2),
        |r AS (SELECT source, c,
        |        row_number() OVER (PARTITION BY source ORDER BY c, w) AS rk
        |      FROM wc),
        |a AS (SELECT source, COUNT(*) AS n_types,
        |        CAST(SUM(c) AS BIGINT) AS n_tokens,
        |        SUM(CAST(rk AS HUGEINT) * c) AS srf
        |      FROM r GROUP BY 1)
        |SELECT source, n_types, n_tokens,
        |  CAST(FLOOR(CAST(2 * srf - (n_types + 1) * CAST(n_tokens AS HUGEINT)
        |      AS DOUBLE)
        |    / CAST(CAST(n_types AS HUGEINT) * n_tokens AS DOUBLE)
        |    * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS gini
        |FROM a""".stripMargin))(
      (s, dir) => TextOps.tokenGini(Tables(s, dir).documents)),

    Reg("text_stats", Some(
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
        |FROM documents GROUP BY lang, source""".stripMargin))(
      (s, dir) => TextOps.textStats(Tables(s, dir).documents)),

    // Per-document quality scoring (identical arithmetic on both sides).
    Reg("text_quality", Some(
      s"""SELECT doc_id,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
         |  CAST(length(replace(text,' ','')) AS DOUBLE)
         |    / len(string_split(text,' ')) AS mean_tok_len,
         |  CAST(len(list_filter(string_split(text,' '), w -> w IN $duckStop)) AS DOUBLE)
         |    / len(string_split(text,' ')) AS stop_ratio,
         |  least(CAST(len(string_split(text,' ')) AS BIGINT) / 100.0, 1.0) * 0.5
         |    + (1.0 - least((CAST(len(list_filter(string_split(text,' '), w -> w IN $duckStop)) AS DOUBLE)
         |                    / len(string_split(text,' '))) * 2.0, 1.0)) * 0.3
         |    + least((CAST(length(replace(text,' ','')) AS DOUBLE)
         |             / len(string_split(text,' '))) / 8.0, 1.0) * 0.2 AS q_score
         |FROM documents""".stripMargin))(
      (s, dir) => TextOps.qualityColumns(Tables(s, dir).documents, "text")
        .select("doc_id", "n_tokens", "mean_tok_len", "stop_ratio", "q_score")),

    // Term frequencies (the explode-groupBy heavy hitter).
    Reg("text_tf", Some(
      """SELECT lang, token, COUNT(*) AS tf FROM (
        |  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
        |) GROUP BY lang, token HAVING COUNT(*) >= 2""".stripMargin))(
      (s, dir) => TextOps.termFrequencies(Tables(s, dir).documents, minCount = 2)),

    // TF-IDF per (doc, token) for repeated terms — tf * ln(N/df), the
    // canonical relevance weight a text pipeline feeds downstream.
    Reg("text_tfidf", Some(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
        |       GROUP BY doc_id, token HAVING COUNT(*) >= 2),
        |df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents)
        |SELECT doc_id, token, ROUND(tf * ln(n_docs / df), 6) AS tfidf
        |FROM tf JOIN df USING (token) CROSS JOIN n""".stripMargin))(
      (s, dir) => TextOps.tfIdf(Tables(s, dir).documents, minTf = 2)),

    // Bigram language-model counts per lang — every occurrence, not the
    // distinct shingle set; the count table an n-gram LM / contamination
    // checker consumes. One shuffle on (lang, bigram).
    Reg("text_bigrams", Some(
      """WITH t AS (SELECT lang, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT lang,
        |        unnest(list_transform(generate_series(1, len(w) - 1),
        |                              i -> w[i] || ' ' || w[i + 1])) AS bigram
        |      FROM t)
        |SELECT lang, bigram, COUNT(*) AS n FROM b
        |GROUP BY lang, bigram HAVING COUNT(*) >= 5""".stripMargin))(
      (s, dir) => Tables(s, dir).documents
        .select(col("lang"), explode(TextOps.ngramTokens(col("text"), 2)).as("bigram"))
        .groupBy("lang", "bigram").agg(count(lit(1)).as("n"))
        .where(col("n") >= 5)),

    // PMI collocations per lang — ln(cb·nt²/(nb·c1·c2)) with one ROUND
    // site; the oracle replays the identical factored expression so both
    // engines round the same double. Min-count 5 kills the rare-pair
    // pathology.
    Reg("text_pmi", Some(
      """WITH t AS (SELECT lang, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT lang,
        |        unnest(list_transform(generate_series(1, len(w) - 1),
        |                              i -> w[i] || ' ' || w[i + 1])) AS bigram
        |      FROM t),
        |u AS (SELECT lang, unnest(w) AS word FROM t),
        |bc AS (SELECT lang, bigram, COUNT(*) AS cb FROM b GROUP BY lang, bigram),
        |uc AS (SELECT lang, word, COUNT(*) AS cu FROM u GROUP BY lang, word),
        |nb AS (SELECT lang, CAST(SUM(cb) AS DOUBLE) AS nb FROM bc GROUP BY lang),
        |nt AS (SELECT lang, CAST(SUM(cu) AS DOUBLE) AS nt FROM uc GROUP BY lang)
        |SELECT bc.lang, bigram, cb AS n,
        |  ROUND(ln(CAST(cb AS DOUBLE) * nt.nt * nt.nt
        |           / (nb.nb * c1.cu * c2.cu)), 6) AS pmi
        |FROM bc
        |JOIN uc c1 ON c1.lang = bc.lang AND c1.word = string_split(bigram, ' ')[1]
        |JOIN uc c2 ON c2.lang = bc.lang AND c2.word = string_split(bigram, ' ')[2]
        |JOIN nb ON nb.lang = bc.lang
        |JOIN nt ON nt.lang = bc.lang
        |WHERE cb >= 5""".stripMargin))(
      (s, dir) => TextOps.pmiScores(Tables(s, dir).documents, minCount = 5)),

    // Per-source unigram KL divergence vs the whole corpus — the drift
    // monitor over a mixed-source corpus. Factored term shape
    // ln(cs·n/(ns·cw)) on both engines; one final rounding site.
    Reg("drift_kl", Some(
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
        |             FROM documents),
        |sc AS (SELECT source, w, COUNT(*) AS cs FROM tok GROUP BY source, w),
        |cw AS (SELECT w, COUNT(*) AS cw FROM tok GROUP BY w),
        |ns AS (SELECT source, CAST(SUM(cs) AS DOUBLE) AS ns
        |       FROM sc GROUP BY source),
        |n AS (SELECT CAST(SUM(cw) AS DOUBLE) AS n FROM cw)
        |SELECT source,
        |  ROUND(SUM((cs / ns.ns) * ln(cs * n.n / (ns.ns * cw.cw))), 6) AS kl
        |FROM sc JOIN cw USING (w) JOIN ns USING (source) CROSS JOIN n
        |GROUP BY source""".stripMargin))(
      (s, dir) => TextOps.sourceDrift(Tables(s, dir).documents)),

    // Dunning G² keyness ([[TextOps.keyness]]): per-term log-likelihood of
    // over/under-representation in one source vs the rest — the corpus-
    // comparison twin of drift_kl (which scores whole sources, not terms).
    // Same factored-ln + one-rounding-site discipline as text_pmi; the
    // direction sign is an exact integer cross-multiply (HUGEINT ↔
    // DECIMAL(38,0)).
    Reg("text_keyness", Some(
      """WITH tok AS (SELECT (source = 'src0') AS t,
        |               unnest(string_split(text, ' ')) AS w
        |             FROM documents),
        |c AS (SELECT w, SUM(CASE WHEN t THEN 1 ELSE 0 END) AS a,
        |        SUM(CASE WHEN t THEN 0 ELSE 1 END) AS b
        |      FROM tok GROUP BY w HAVING COUNT(*) >= 20),
        |n AS (SELECT SUM(CASE WHEN t THEN 1 ELSE 0 END) AS n1,
        |        SUM(CASE WHEN t THEN 0 ELSE 1 END) AS n2 FROM tok)
        |SELECT w AS token, CAST(a AS BIGINT) AS n_target,
        |  CAST(b AS BIGINT) AS n_rest,
        |  CAST(FLOOR(2.0 * (
        |    CASE WHEN a > 0 THEN CAST(a AS DOUBLE) *
        |      ln(CAST(a AS DOUBLE) * (n1 + n2)
        |         / (CAST(n1 AS DOUBLE) * (a + b))) ELSE 0.0 END +
        |    CASE WHEN b > 0 THEN CAST(b AS DOUBLE) *
        |      ln(CAST(b AS DOUBLE) * (n1 + n2)
        |         / (CAST(n2 AS DOUBLE) * (a + b))) ELSE 0.0 END
        |  ) * 100000 + 0.5) AS BIGINT) / 100000.0 AS g2,
        |  CASE WHEN CAST(a AS HUGEINT) * n2 >= CAST(b AS HUGEINT) * n1
        |    THEN 1 ELSE -1 END AS direction
        |FROM c CROSS JOIN n""".stripMargin))(
      (s, dir) => TextOps.keyness(Tables(s, dir).documents, "source", "src0",
        minCount = 20)),

    // TextRank keywords: PageRank over the word co-occurrence graph
    // (adjacent-word edges, bidirected, deduplicated) — Mihalcea & Tarau's
    // unsupervised keyword extractor, reusing [[graft.ext.Graph.pagerank]]
    // and the same unrolled-CTE oracle generator as graph_pagerank. Top 50
    // by ROUNDED rank (node tiebreak), so the boundary is deterministic on
    // both engines.
    Reg("text_keywords", Some(
      ExtQueries.duckPagerankCtes(
        """SELECT DISTINCT string_split(bigram, ' ')[1] AS src,
          |       string_split(bigram, ' ')[2] AS dst
          |  FROM (SELECT unnest(list_transform(generate_series(1, len(w) - 1),
          |                      i -> w[i] || ' ' || w[i + 1])) AS bigram
          |        FROM (SELECT string_split(text, ' ') AS w FROM documents))"""
          .stripMargin) +
      """
        |SELECT node AS word, ROUND(rank * (SELECT nv FROM nn), 6) AS rank_rel
        |FROM r10 ORDER BY rank_rel DESC, word LIMIT 50""".stripMargin))(
      (s, dir) => {
        // staged layout (round 13): the word co-occurrence graph is
        // VOCABULARY-sized and derived by a corpus-sized tokenize +
        // explode + distinct — exactly the ingest-time artifact shape.
        // Staged once per corpus as a bucketed outdeg-annotated table
        // ([[stagedWordEdges]]); the rank rounds then ride the same
        // Exchange-free bucketed path as graph_pagerank, at shuffle
        // parallelism MATCHED to |E| ([[graft.ext.Graph
        // .rankParallelism]]) in a child session — a 31-node graph must
        // not schedule 32-partition shuffles ten rounds deep.
        val (tbl, nEdges) = stagedWordEdges(s, dir)
        val pr = graft.ext.Graph.pagerankBucketed(
          ExtQueries.rankSession(s, nEdges).table(tbl),
          iters = 10, damping = 0.85)
        val nv = pr.agg(count(lit(1)).cast("double").as("nv"))
        pr.crossJoin(broadcast(nv))
          .select(col("node").as("word"),
            round(col("rank") * col("nv"), 6).as("rank_rel"))
          .orderBy(col("rank_rel").desc, col("word"))
          .limit(50)
      }),

    // Deterministic content-hash train/dev/test split (md5 top 60 bits) —
    // engine-neutral BY CONSTRUCTION, and the oracle hash-match proves it:
    // the same doc lands in the same split on Spark, DuckDB, or anything
    // else that can compute md5. 80/10/10.
    Reg("text_split", Some(
      s"""SELECT doc_id,
         |  CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 10 AS bucket,
         |  $duckSplitCase AS split
         |FROM documents""".stripMargin))(
      (s, dir) => Tables(s, dir).documents.select(
        col("doc_id"),
        TextOps.hashBucket(col("text"), 10).as("bucket"),
        TextOps.splitLabel(col("text")).as("split"))),

    // Leakage-safe split: text_split hashes each doc independently, so a
    // duplicate pair can straddle train/test and leak training data into
    // held-out eval. splitByGroup decides ONCE per duplicate group (split
    // hash of the transitive-closure representative id). Registered over
    // the exact-dup pair list — the oracle is then a window min per text
    // plus the md5 replay, no recursive CTE; chain/near-dup coherence is
    // pinned by SamplingSpec. 0.8 + 0.1 (not 0.9) in BOTH engines: the
    // val/test threshold must be the same IEEE double the library computes.
    Reg("split_groups", Some(
      """WITH g AS (SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY text) AS component FROM documents),
        |f AS (SELECT doc_id, component,
        |  CAST(CAST('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 13)
        |         AS BIGINT) AS DOUBLE) / 4503599627370496.0 AS fr
        |  FROM g)
        |SELECT doc_id, component,
        |  CASE WHEN fr < 0.8 THEN 'train'
        |       WHEN fr < 0.8 + 0.1 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM f""".stripMargin))(
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val withH = docs.select(col("doc_id"), sha2(col("text"), 256).as("__h"))
        val reps = withH.groupBy("__h").agg(min("doc_id").as("a_id"))
        val pairs = withH.join(reps, "__h")
          .where(col("doc_id") =!= col("a_id"))
          .select(col("a_id"), col("doc_id").as("b_id"))
        Sampling.splitByGroup(docs, pairs, "doc_id")
          .select("doc_id", "component", "split")
      }),

    // BPE-ish token counting — the REGISTERED query calls the library
    // helper (TextOps.bpeTokenCount, Unicode classes), and the oracle runs
    // the same \p{L}/\p{N} pattern: Java regex and DuckDB's RE2 agree on
    // these classes, so the helper users consume is exactly what the
    // oracle certifies (an inline ASCII copy here once diverged silently).
    Reg("text_tokens_bpe", Some(
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '''(?:[sdmt]|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+'))
        |    AS BIGINT) AS n_bpe
        |FROM documents""".stripMargin))(
      (s, dir) => Tables(s, dir).documents.select(
        col("doc_id"), TextOps.bpeTokenCount(col("text")).as("n_bpe"))),

    // PII-style redaction: mask email-shaped tokens and long digit runs —
    // the scrub pass before corpus release. Pure regexp_replace (codegen,
    // no UDF); the patterns avoid constructs where Java and RE2 regex
    // dialects could diverge (no backrefs, no lookaround).
    Reg("text_redact", Some(
      s"""SELECT doc_id, $duckRedact AS redacted
         |FROM documents""".stripMargin))(
      (s, dir) => Tables(s, dir).documents.select(col("doc_id"),
        TextOps.redact(col("text")).as("redacted"))),

    // Deterministic weighted sampling: keep probability ∝ doc length
    // (capped at 1), decided by the content hash — reproducible across
    // engines/runs/partitionings, which the oracle hash-match PROVES.
    Reg("sample_weighted", Some(
      """SELECT doc_id, lang, source FROM documents
        |WHERE CAST(CAST('0x' || substr(md5(text), 1, 13) AS BIGINT) AS DOUBLE)
        |        / 4503599627370496.0
        |      < LEAST(n_chars / 500.0, 1.0)""".stripMargin))(
      (s, dir) => Sampling.weightedBy(Tables(s, dir).documents,
          col("text"), least(col("n_chars") / 500.0, lit(1.0)))
        .select("doc_id", "lang", "source")),

    // Domain mixing: per-source keep rates (the pre-training data-mixture
    // knob), same deterministic hash decision.
    Reg("mix_sources", Some(
      """SELECT doc_id, source FROM documents
        |WHERE CAST(CAST('0x' || substr(md5(text), 1, 13) AS BIGINT) AS DOUBLE)
        |        / 4503599627370496.0
        |      < CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
        |                    WHEN 'src2' THEN 0.25 ELSE 0.1 END""".stripMargin))(
      (s, dir) => Sampling.mixSources(Tables(s, dir).documents,
          col("text"), col("source"),
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25), default = 0.1)
        .select("doc_id", "source")),

    // Stratified sampling for train/dev splits: per-language keep rates
    // decided by the content hash (NOT `sampleBy`'s seeded per-partition
    // RNG, which ties the split to engine + physical partitioning) — fully
    // reproducible, which the oracle hash-match PROVES. Strata outside the
    // rate map keep nothing, matching sampleBy's contract.
    Reg("sample_stratified", Some(
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(CAST('0x' || substr(md5(text), 1, 13) AS BIGINT) AS DOUBLE)
        |        / 4503599627370496.0
        |      < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.5
        |                  WHEN 'es' THEN 0.2 WHEN 'fr' THEN 0.2
        |                  WHEN 'zh' THEN 0.1 ELSE 0.0 END""".stripMargin))(
      (s, dir) => Sampling.stratifiedBy(Tables(s, dir).documents,
          col("text"), col("lang"),
          Map("en" -> 0.5, "de" -> 0.5, "es" -> 0.2, "fr" -> 0.2, "zh" -> 0.1))
        .select("doc_id", "lang")),

    // Class-balanced exact downsampling ([[Sampling.balancedSample]]):
    // exactly min-class-size rows per lang, survivors chosen by
    // content-hash order with doc_id tiebreak — deterministic on any
    // engine or partitioning; the oracle replays the identical rank.
    Reg("sample_balanced", Some(
      """WITH d AS (SELECT doc_id, lang,
        |    CAST(CAST('0x' || substr(md5(text), 1, 13) AS BIGINT) AS DOUBLE)
        |      / 4503599627370496.0 AS hf
        |  FROM documents WHERE text IS NOT NULL),
        |k AS (SELECT MIN(n) AS k
        |      FROM (SELECT COUNT(*) AS n FROM d GROUP BY lang)),
        |r AS (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY hf, doc_id) AS rn
        |  FROM d)
        |SELECT doc_id, lang FROM r CROSS JOIN k WHERE rn <= k"""
        .stripMargin))(
      (s, dir) => Sampling.balancedSample(Tables(s, dir).documents,
        col("text"), col("lang"), "doc_id").select("doc_id", "lang")),

    // Deterministic negative sampling ([[Sampling.negativeSample]]):
    // k=3 contrastive negatives per anchor via content-hash rank
    // adjacency on the ring — reproducible on any engine/partitioning
    // where RNG samplers are not; the oracle replays the ring walk.
    Reg("sample_negatives", Some(
      """WITH d AS (SELECT doc_id AS id,
        |    CAST(CAST('0x' || substr(md5(text), 1, 13) AS BIGINT) AS DOUBLE)
        |      / 4503599627370496.0 AS hf
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (SELECT id, row_number() OVER (ORDER BY hf, id) AS rk FROM d),
        |n AS (SELECT COUNT(*) AS nn FROM r),
        |a AS (SELECT r.id AS anchor_id, r.rk, g.j
        |      FROM r CROSS JOIN generate_series(1, 3) AS g(j)),
        |x AS (SELECT anchor_id, j, ((rk - 1 + j) % nn) + 1 AS tr
        |      FROM a, n)
        |SELECT anchor_id, CAST(j AS BIGINT) AS j, r2.id AS neg_id
        |FROM x JOIN r r2 ON r2.rk = x.tr
        |WHERE r2.id <> x.anchor_id""".stripMargin))(
      (s, dir) => Sampling.negativeSample(Tables(s, dir).documents,
        "doc_id", col("text"), k = 3)),

    // Cross-source priority dedup ([[Dedup.dedupeByPriority]]): identical
    // content from several dumps keeps the copy from the smallest source
    // index — the curated-beats-crawl mixing rule, vs dedup_exact's
    // min-id-wins. Exact integers; the oracle replays the argmin rank.
    Reg("mix_dedup_priority", Some(
      """WITH d AS (SELECT doc_id, text,
        |    CAST(regexp_extract(source, '([0-9]+)', 1) AS INTEGER) AS pr
        |  FROM documents),
        |s AS (SELECT text, COUNT(*) AS n_copies,
        |        COUNT(DISTINCT pr) AS n_priorities
        |      FROM d GROUP BY 1),
        |k AS (SELECT text, doc_id AS keep_id, row_number() OVER (
        |        PARTITION BY text ORDER BY pr, doc_id) AS rn FROM d)
        |SELECT keep_id, n_copies, n_priorities
        |FROM k JOIN s USING (text) WHERE rn = 1""".stripMargin))(
      (s, dir) => Dedup.dedupeByPriority(Tables(s, dir).documents,
        "text", "doc_id",
        regexp_extract(col("source"), "([0-9]+)", 1).cast("int"))),

    // Split-free packing ([[Packing.packWholeDocs]]): next-fit whole-doc
    // bin assignment in id order — per-chunk loads may overhang capacity
    // by one doc (the documented trade vs pack_chunks' exact fills).
    Reg("pack_whole_docs", Some(
      """WITH d AS (SELECT doc_id, length(text) AS len FROM documents
        |           WHERE length(text) > 0),
        |c AS (SELECT doc_id, len,
        |    CAST(COALESCE(SUM(len) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS s
        |  FROM d)
        |SELECT CAST(s // 2048 AS BIGINT) AS chunk_id, COUNT(*) AS n_docs,
        |  CAST(SUM(len) AS BIGINT) AS n_tokens
        |FROM c GROUP BY 1""".stripMargin))(
      (s, dir) => graft.ext.Packing.packWholeDocs(Tables(s, dir).documents,
          "doc_id", length(col("text")), capacity = 2048)
        .groupBy("chunk_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))),

    // Language-ID heuristic: the marker-argmax is deterministic CASE logic,
    // so it IS oracle-able — ties break lexicographically-last, which the
    // SQL encodes by checking languages in reverse lexicographic order.
    Reg("text_langid", Some {
      val markers = TextOps.langMarkers.toSeq.sortBy(_._1)
      def hits(m: Seq[String]) =
        s"len(list_filter(string_split(lower(text),' '), w -> w IN (${m.map("'" + _ + "'").mkString(",")})))"
      val best = s"greatest(${markers.map(m => hits(m._2)).mkString(", ")})"
      val cases = markers.reverse
        .map { case (lang, m) => s"WHEN ${hits(m)} = $best THEN '$lang'" }
        .mkString("\n    ")
      s"""SELECT doc_id,
         |  CASE WHEN $best = 0 THEN 'und'
         |    $cases
         |  END AS lang_pred,
         |  ROUND(CAST($best AS DOUBLE) / len(string_split(lower(text),' ')), 6)
         |    AS lang_score
         |FROM documents""".stripMargin
    })(
      (s, dir) => Tables(s, dir).documents.select(
        col("doc_id"),
        TextOps.langId(col("text")).as("lang_pred"),
        round(TextOps.langScore(col("text")), 6).as("lang_score"))),

    // Normalized-content fingerprint — hash-oracled via the md5-60-bit
    // engine-neutral hash (production callers keep the xxhash64 default;
    // the normalization + hashing SHAPE is what the oracle certifies).
    // Spark regexp_replace is replace-ALL by default; DuckDB needs 'g'.
    Reg("text_fingerprint", Some(
      """SELECT doc_id,
        |  CAST('0x' || substr(md5(regexp_replace(lower(text), '\s+', ' ', 'g')),
        |       1, 15) AS BIGINT) AS fp
        |FROM documents""".stripMargin))(
      (s, dir) => Tables(s, dir).documents.select(
        col("doc_id"),
        TextOps.fingerprint(col("text"), TextOps.md5Hash60).as("fp"))),

    // Winnowing (rolling-hash) fingerprints — any shared substring of
    // length >= k+w-1 yields a shared fp (TextOpsSpec pins the guarantee).
    // Hash-oracled with the md5-60-bit hash: the oracle replays gram
    // hashing, the w-window frame minimum, the trailing-window filter and
    // the distinct — the full winnowing selection, not just row counts.
    Reg("text_winnow", Some(
      """WITH g AS (
        |  SELECT doc_id, greatest(length(text) - 4, 1) AS n, text,
        |    unnest(generate_series(1, greatest(length(text) - 4, 1))) AS pos
        |  FROM documents
        |), h AS (
        |  SELECT doc_id, n, pos,
        |    CAST('0x' || substr(md5(substr(text, pos, 5)), 1, 15) AS BIGINT) AS hv
        |  FROM g
        |), m AS (
        |  SELECT doc_id, pos, n,
        |    MIN(hv) OVER (PARTITION BY doc_id ORDER BY pos
        |                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |  FROM h
        |)
        |SELECT DISTINCT doc_id AS id, fp FROM m
        |WHERE pos - 1 <= greatest(n - 4, 0)""".stripMargin))(
      (s, dir) => TextOps.winnowFingerprints(Tables(s, dir).documents,
        "doc_id", "text", k = 5, w = 4, md5Hash = true)),

    // Winnowing APPLIED — document-overlap candidate pairs (the MOSS use
    // case): pairs whose shared rare fingerprints cover >= half the smaller
    // doc's fingerprint set (containment >= 0.5). Hash-oracled end to end:
    // the SQL replays selection (same CTE as text_winnow), the df <= 100
    // rarity gate, the fp self-join, the >= 2 shared floor and the
    // containment ratio. The pair-level guarantee (shared substring of
    // length >= k+w-1 => paired at minShared=1) stays pinned in TextOpsSpec.
    Reg("text_winnow_pairs", Some(
      """WITH g AS (
        |  SELECT doc_id, greatest(length(text) - 4, 1) AS n, text,
        |    unnest(generate_series(1, greatest(length(text) - 4, 1))) AS pos
        |  FROM documents
        |), h AS (
        |  SELECT doc_id, n, pos,
        |    CAST('0x' || substr(md5(substr(text, pos, 5)), 1, 15) AS BIGINT) AS hv
        |  FROM g
        |), m AS (
        |  SELECT doc_id, pos, n,
        |    MIN(hv) OVER (PARTITION BY doc_id ORDER BY pos
        |                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |  FROM h
        |), fps AS (
        |  SELECT DISTINCT doc_id AS id, fp FROM m
        |  WHERE pos - 1 <= greatest(n - 4, 0)
        |), rfps AS (
        |  SELECT id, fp FROM fps
        |  WHERE fp IN (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 100)
        |), sizes AS (
        |  SELECT id, COUNT(*) AS n_fps FROM rfps GROUP BY id
        |), p AS (
        |  SELECT a.id AS a_id, b.id AS b_id, COUNT(*) AS n_shared
        |  FROM rfps a JOIN rfps b ON a.fp = b.fp AND a.id < b.id
        |  GROUP BY a.id, b.id HAVING COUNT(*) >= 2
        |)
        |SELECT a_id, b_id, n_shared,
        |  ROUND(CAST(n_shared AS DOUBLE) / least(sa.n_fps, sb.n_fps), 6)
        |    AS overlap
        |FROM p
        |JOIN sizes sa ON p.a_id = sa.id
        |JOIN sizes sb ON p.b_id = sb.id
        |WHERE ROUND(CAST(n_shared AS DOUBLE) / least(sa.n_fps, sb.n_fps), 6)
        |  >= 0.5""".stripMargin))(
      (s, dir) => TextOps.winnowOverlapPairs(Tables(s, dir).documents,
        "doc_id", "text", k = 5, w = 4, minShared = 2, maxDf = 100,
        minOverlap = 0.5, md5Hash = true)),

    // Exact duplicated-span detection: 30-gram position matches across
    // docs, merged into maximal runs per alignment diagonal
    // (gaps-and-islands), spans >= 40 chars reported. Fully relational, so
    // the oracle is the SAME algebra — no tolerance, no replay literals.
    Reg("text_dup_spans", Some(
      """WITH g AS (
        |  SELECT doc_id AS id, i AS pos, substr(text, i, 30) AS gram
        |  FROM documents, unnest(generate_series(1, length(text) - 29)) AS t(i)
        |  WHERE length(text) >= 30
        |), rare AS (
        |  SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT id) <= 20
        |), r AS (SELECT g.* FROM g JOIN rare USING (gram)
        |), m AS (
        |  SELECT a.id AS a_id, b.id AS b_id, a.pos AS a_pos,
        |    b.pos - a.pos AS diag
        |  FROM r a JOIN r b ON a.gram = b.gram AND a.id < b.id
        |), isl AS (
        |  SELECT a_id, b_id, diag, a_pos,
        |    a_pos - row_number() OVER (PARTITION BY a_id, b_id, diag
        |                               ORDER BY a_pos) AS island
        |  FROM m
        |)
        |SELECT a_id, b_id, a_start, a_start + diag AS b_start, span_len
        |FROM (
        |  SELECT a_id, b_id, diag, MIN(a_pos) AS a_start,
        |    MAX(a_pos) - MIN(a_pos) + 30 AS span_len
        |  FROM isl GROUP BY a_id, b_id, diag, island)
        |WHERE span_len >= 40""".stripMargin))(
      (s, dir) => TextOps.duplicatedSpans(Tables(s, dir).documents,
        "doc_id", "text", k = 30, minLen = 40, maxDf = 20)),

    // Duplicated-span REMOVAL — the action paired with text_dup_spans:
    // every detected cross-doc span is cut from the higher-id doc (min-id
    // occurrence survives), per-doc intervals merged, text rebuilt. Same
    // algebra on both engines; the hash pins the cleaned STRINGS.
    Reg("text_dup_spans_clean", Some(
      "WITH " + TextOps.spanCleanOracleCtes("documents", "doc_id", "text",
        k = 30, minLen = 40, maxDf = 20) +
      "\nSELECT doc_id, text FROM cleaned"))(
      (s, dir) => TextOps.removeDuplicatedSpans(Tables(s, dir).documents,
        "doc_id", "text", k = 30, minLen = 40, maxDf = 20)),

    // BPE tokenizer training: 20 merge rules learned from the corpus —
    // corpus collapses to the weighted word vocab once, then 20 bounded
    // rounds (pair-count shuffle + limit-1 argmax + map-only greedy fold).
    // Oracle replays all 20 rounds as unrolled MATERIALIZED CTEs with the
    // identical argmax tiebreak and greedy-leftmost run-parity merge.
    Reg("text_bpe_train", Some(
      graft.ext.Bpe.oracleSql("documents", "text", merges = 20)))(
      (s, dir) => graft.ext.Bpe.train(s, Tables(s, dir).documents,
        "text", merges = 20)),

    // BPE encode with the learned rules: the final training round's vocab
    // segmentation is the tokenizer; docs join words to it and reassemble.
    // The merge-table collect is 20 rows (bounded); encode itself takes
    // the rules as a parameter — the train-once/encode-everywhere shape.
    Reg("text_bpe_encode", Some(
      graft.ext.Bpe.oracleEncodeSql("documents", "doc_id", "text", merges = 20)))(
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val m = graft.ext.Bpe.train(s, docs, "text", merges = 20)
          .orderBy("merge_rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.ext.Bpe.encode(docs, "doc_id", "text", m)
      }),

    // Production shape of encode: the merge table is TRAINED ONCE at
    // ingest, persisted through Sinks.parquet, and every encode run reads
    // the 20-row artifact back instead of retraining — the tokenizer
    // equivalent of dedup_incr_near_persisted. Same end-to-end oracle as
    // text_bpe_encode: the persisted round-trip must not change a token.
    Reg("text_bpe_encode_persisted", Some(
      graft.ext.Bpe.oracleEncodeSql("documents", "doc_id", "text", merges = 20)))(
      (s, dir) => {
        val idx = stagedBpeMerges(s, dir)
        val m = s.read.parquet(s"$idx/bpe_merges.parquet")
          .orderBy("merge_rank").collect()
          .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq
        graft.ext.Bpe.encode(Tables(s, dir).documents, "doc_id", "text", m)
      }),

    // End-to-end tokenized release: exact-dedup (min-id per content) →
    // duplicated-span removal on the survivors → BPE rules trained on the
    // CLEANED corpus → encode, with per-doc token counts. The whole
    // pipeline is hash-oracled as ONE composed DuckDB query (dedup CTE +
    // the span-clean chain over it + the 20-round training chain over the
    // cleaned text + the encode tail) — an end-to-end pin on how the
    // stages feed each other, not just on each stage alone.
    Reg("pipeline_tokenized", Some(
      "WITH dd AS MATERIALIZED (SELECT MIN(doc_id) AS doc_id, text " +
        "FROM documents GROUP BY text),\n" +
      TextOps.spanCleanOracleCtes("dd", "doc_id", "text",
        k = 30, minLen = 40, maxDf = 20) + ",\n" +
      graft.ext.Bpe.chainCtes("cleaned", "text", merges = 20) + ",\n" +
      graft.ext.Bpe.encodeTailCtes("cleaned", "doc_id", "text", merges = 20) +
      """
        |SELECT doc_id, toks,
        |  CAST(len(string_split(toks, ' ')) AS BIGINT) AS n_tokens
        |FROM (
        |  SELECT doc_id, string_agg(wtoks, ' ' ORDER BY wpos) AS toks
        |  FROM dw JOIN wt USING (word)
        |  GROUP BY doc_id)""".stripMargin))(
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val dd = docs.groupBy("text").agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id", "text")
        // the cleaned frame feeds BOTH training and encoding — materialize
        // it once (the pipeline_release persisted-frame pattern)
        val cleaned = TextOps.removeDuplicatedSpans(dd, "doc_id", "text",
          k = 30, minLen = 40, maxDf = 20).ckpt()
        val m = graft.ext.Bpe.train(s, cleaned, "text", merges = 20)
          .orderBy("merge_rank").collect()
          .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq
        graft.ext.Bpe.encode(cleaned, "doc_id", "text", m)
          .withColumn("n_tokens", size(split(col("toks"), " ")).cast("long"))
      }),

    // BPE vocabulary: the token inventory a trained tokenizer ships —
    // every post-merge symbol with its corpus-weighted count. Rules come
    // from the SAME persisted 20-row artifact production encode reads
    // (stagedBpeMerges) — a vocabulary dump ships WITH a trained
    // tokenizer, it doesn't retrain one, and the per-run retrain was the
    // r10 text_bpe_vocab 2.0 → 3.0 s regression. The oracle still
    // replays the full train+vocab chain, so the hash additionally pins
    // persisted rules ≡ freshly-trained rules.
    Reg("text_bpe_vocab", Some(
      graft.ext.Bpe.oracleVocabSql("documents", "text", merges = 20)))(
      (s, dir) => {
        val m = s.read
          .parquet(s"${stagedBpeMerges(s, dir)}/bpe_merges.parquet")
          .orderBy("merge_rank").collect()
          .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq
        graft.ext.Bpe.vocabulary(Tables(s, dir).documents, "text", m)
      }),

    // PCA projection to the top-2 principal components (one distributed
    // moments pass -> driver-side power iteration on the rounded 64x64
    // covariance -> codegen projection). The oracle replays the ENTIRE
    // pipeline in SQL — generated unrolled power-iteration CTEs over the
    // same rounded covariance — so the hash pins moments, deflation, sign
    // convention, and projection at once (the kmeans-IVF replay pattern).
    Reg("embed_pca", Some(
      graft.ext.Pca.oracleSql2("embeddings", "vec_id", "embedding", dim = 64)))(
      (s, dir) => graft.ext.Pca.fitProject2(
        Tables(s, dir).embeddings, "vec_id", "embedding")),

    // Exact brute-force top-5 cosine neighbors for a bounded query set.
    Reg("topk_sim", Some(
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
        |           FROM embeddings WHERE vec_id < 20)
        |SELECT q_id, n_id, sim, rank FROM (
        |  SELECT q_id, vec_id AS n_id,
        |    ROUND(list_cosine_similarity(q_vec, CAST(embedding AS DOUBLE[])), 4) AS sim,
        |    row_number() OVER (
        |      PARTITION BY q_id
        |      ORDER BY ROUND(list_cosine_similarity(q_vec, CAST(embedding AS DOUBLE[])), 4)
        |        DESC, vec_id
        |    ) AS rank
        |  FROM q JOIN embeddings ON vec_id <> q_id
        |) WHERE rank <= 5""".stripMargin))(
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        Similarity.bruteForceTopK(e, e.where(col("vec_id") < 20),
          "vec_id", "embedding", k = 5)
      }),

    // Approximate top-k via multi-table sign-LSH — hash-oracled despite
    // the seeded planes: all 4 tables' plane literals embed into the SQL
    // (same shortest-round-trip replay as dedup_embed), so the oracle
    // reproduces bucket assignment, the OR-construction candidate set,
    // and the rounded-cosine/row_number ranking exactly.
    Reg("topk_sim_lsh", Some {
      val buckets = lshBucketCaseSql(nPlanes = 6, dim = 64, seedBase = 42L,
        vec = "emb")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |           FROM embeddings),
         |b AS (SELECT vec_id, emb, t.tbl AS tbl, CASE t.tbl $buckets END AS bucket
         |      FROM e, (VALUES (0), (1), (2), (3)) t(tbl)),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id,
         |         q.emb AS q_emb, c.emb AS n_emb
         |  FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
         |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id)
         |SELECT q_id, n_id, sim, rank FROM (
         |  SELECT q_id, n_id,
         |    ROUND(list_cosine_similarity(q_emb, n_emb), 4) AS sim,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY ROUND(list_cosine_similarity(q_emb, n_emb), 4) DESC,
         |        n_id) AS rank
         |  FROM cand) WHERE rank <= 5""".stripMargin
    })(
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        Similarity.lshTopK(e, e.where(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nPlanes = 6)
      }),

    // NDCG@5 of the LSH ranking against the exact cosine top-5
    // ([[Similarity.ndcgByQuery]]): the GRADED retrieval-quality gauge —
    // recall says a hit landed, NDCG says where. Truth rel = 6−rank,
    // log2 position discount, ideal DCG embedded as one shared literal.
    Reg("eval_ndcg", Some {
      val buckets = lshBucketCaseSql(nPlanes = 6, dim = 64, seedBase = 42L,
        vec = "emb")
      val idcg = Similarity.idcgAt(5)
      // per-rank discount literals, NOT log2() at runtime: Spark's
      // ln(x)/ln 2 and DuckDB's native log2 differ in the last ulp
      val disc = Similarity.discountAt(5).zipWithIndex
        .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }.mkString(" ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |           FROM embeddings),
         |q AS (SELECT vec_id AS q_id, emb AS q_vec FROM e
         |      WHERE vec_id < 20),
         |truth AS (SELECT q_id, n_id, rank FROM (
         |  SELECT q_id, e.vec_id AS n_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY ROUND(list_cosine_similarity(q_vec, emb), 4) DESC,
         |        e.vec_id) AS rank
         |  FROM q JOIN e ON e.vec_id <> q_id) WHERE rank <= 5),
         |b AS (SELECT vec_id, emb, t.tbl AS tbl,
         |        CASE t.tbl $buckets END AS bucket
         |      FROM e, (VALUES (0), (1), (2), (3)) t(tbl)),
         |cand0 AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id,
         |            q.emb AS q_emb, c.emb AS n_emb
         |          FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
         |          WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
         |cand AS (SELECT q_id, n_id, rank FROM (
         |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
         |    ORDER BY ROUND(list_cosine_similarity(q_emb, n_emb), 4) DESC,
         |      n_id) AS rank
         |  FROM cand0) WHERE rank <= 5)
         |SELECT c.q_id,
         |  CAST(FLOOR(SUM(CAST(COALESCE(6 - t.rank, 0) AS DOUBLE)
         |      / (CASE c.rank $disc END)) / $idcg * 100000.0 + 0.5)
         |    AS BIGINT) / 100000.0 AS ndcg
         |FROM cand c LEFT JOIN truth t
         |  ON t.q_id = c.q_id AND t.n_id = c.n_id
         |GROUP BY c.q_id""".stripMargin
    })(
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        val q = e.where(col("vec_id") < 20)
        Similarity.ndcgByQuery(
          Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5),
          Similarity.lshTopK(e, q, "vec_id", "embedding", k = 5,
            nPlanes = 6),
          k = 5)
      }),

    // Lang-id confusion matrix: predicted vs labeled language, the
    // standard classifier-eval artifact over the heuristic marker-argmax.
    // Exact counts only.
    Reg("eval_langid_confusion", Some {
      val markers = TextOps.langMarkers.toSeq.sortBy(_._1)
      def hits(m: Seq[String]) =
        s"len(list_filter(string_split(lower(text),' '), w -> w IN (${m.map("'" + _ + "'").mkString(",")})))"
      val best = s"greatest(${markers.map(m => hits(m._2)).mkString(", ")})"
      val cases = markers.reverse
        .map { case (lang, m) => s"WHEN ${hits(m)} = $best THEN '$lang'" }
        .mkString("\n    ")
      s"""SELECT lang AS true_lang,
         |  CASE WHEN $best = 0 THEN 'und'
         |    $cases
         |  END AS pred_lang,
         |  COUNT(*) AS n
         |FROM documents GROUP BY 1, 2""".stripMargin
    })(
      (s, dir) => Tables(s, dir).documents
        .select(col("lang").as("true_lang"),
          TextOps.langId(col("text")).as("pred_lang"))
        .groupBy("true_lang", "pred_lang").agg(count(lit(1)).as("n"))),

    // Exact maximum-inner-product top-k ([[Similarity.mipsTopK]]): the
    // retrieval objective when magnitudes carry signal — cosine's rank
    // order is provably different on unnormalized embeddings.
    Reg("topk_mips", Some(
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
        |           FROM embeddings WHERE vec_id < 20)
        |SELECT q_id, n_id, score, rank FROM (
        |  SELECT q_id, vec_id AS n_id,
        |    ROUND(list_dot_product(q_vec, CAST(embedding AS DOUBLE[])), 4)
        |      AS score,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY ROUND(list_dot_product(q_vec,
        |        CAST(embedding AS DOUBLE[])), 4) DESC, vec_id) AS rank
        |  FROM q JOIN embeddings ON vec_id <> q_id
        |) WHERE rank <= 5""".stripMargin))(
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        Similarity.mipsTopK(e, e.where(col("vec_id") < 20),
          "vec_id", "embedding", k = 5)
      }),

    // Approximate MIPS via the ANGULAR REDUCTION ([[Similarity.mipsLshTopK]],
    // Bachrach et al. RecSys'14): corpus vectors augmented to a common norm
    // with sqrt(M²−|x|²), queries with 0 — inner-product order becomes
    // cosine order, so sign-LSH buckets a MIPS problem. The oracle replays
    // the max-norm scalar, the augmentation, the 65-dim seeded planes, the
    // OR-construction, and the raw-dot ranking.
    Reg("topk_mips_lsh", Some {
      val buckets = lshBucketCaseSql(nPlanes = 6, dim = 65, seedBase = 142L,
        vec = "aug")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |           FROM embeddings),
         |m AS (SELECT MAX(list_dot_product(emb, emb)) AS m2 FROM e),
         |ec AS (SELECT vec_id, emb, list_concat(emb,
         |         [sqrt(greatest(m2 - list_dot_product(emb, emb), 0.0))])
         |         AS aug FROM e, m),
         |eq AS (SELECT vec_id, emb, list_concat(emb, [0.0]) AS aug
         |       FROM e WHERE vec_id < 20),
         |bc AS (SELECT vec_id, emb, t.tbl AS tbl,
         |         CASE t.tbl $buckets END AS bucket
         |       FROM ec, (VALUES (0), (1), (2), (3)) t(tbl)),
         |bq AS (SELECT vec_id, emb, t.tbl AS tbl,
         |         CASE t.tbl $buckets END AS bucket
         |       FROM eq, (VALUES (0), (1), (2), (3)) t(tbl)),
         |cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id,
         |           q.emb AS q_emb, c.emb AS n_emb
         |         FROM bq q JOIN bc c ON q.tbl = c.tbl
         |           AND q.bucket = c.bucket AND c.vec_id <> q.vec_id)
         |SELECT q_id, n_id, score, rank FROM (
         |  SELECT q_id, n_id,
         |    ROUND(list_dot_product(q_emb, n_emb), 4) AS score,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY ROUND(list_dot_product(q_emb, n_emb), 4) DESC,
         |        n_id) AS rank
         |  FROM cand) WHERE rank <= 5""".stripMargin
    })(
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        Similarity.mipsLshTopK(e, e.where(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nPlanes = 6)
      }),

    // Approximate top-k via IVF cells — hash-oracled: with the LABEL column
    // as the cell assignment, the centroid is a per-dimension mean DuckDB
    // can replay (AVG per (label, dim) → ordered list), unitization divides
    // by sqrt(self-dot), probe ranking replays Spark's
    // reverse(array_sort(struct(score, cell))) as ORDER BY score DESC, cell
    // DESC, and candidate scoring/ranking is the same rounded-cosine /
    // row_number contract as topk_sim. Row-summation order differs between
    // engines (typed-Aggregator partials vs DuckDB AVG), but centroid dots
    // of distinct cells are separated by far more than accumulation ulps,
    // so the probe SET matches; candidate sims are rounded to 4 before
    // ranking. (The kmeans variant stays rows-only: Lloyd iterations are
    // not SQL-expressible.)
    Reg("topk_sim_ivf", Some(
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings
        |), dimavg AS (
        |  SELECT label AS cell, i, AVG(emb[i]) AS v
        |  FROM e, unnest(generate_series(1, 64)) AS t(i)
        |  GROUP BY label, i
        |), cent AS (
        |  SELECT cell, list(v ORDER BY i) AS c FROM dimavg GROUP BY cell
        |), centu AS (
        |  SELECT cell,
        |    list_transform(c, x -> x / sqrt(list_dot_product(c, c))) AS cu
        |  FROM cent
        |), probes AS (
        |  SELECT q.vec_id AS q_id, q.emb AS q_emb, c.cell,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_dot_product(q.emb, c.cu) DESC, c.cell DESC) AS pr
        |  FROM e q, centu c
        |  WHERE q.vec_id < 20
        |), cand AS (
        |  SELECT p.q_id, p.q_emb, n.vec_id AS n_id, n.emb AS n_emb
        |  FROM probes p JOIN e n ON n.label = p.cell
        |  WHERE p.pr <= 3 AND n.vec_id <> p.q_id
        |)
        |SELECT q_id, n_id, sim, rank FROM (
        |  SELECT q_id, n_id,
        |    ROUND(list_cosine_similarity(q_emb, n_emb), 4) AS sim,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY ROUND(list_cosine_similarity(q_emb, n_emb), 4) DESC,
        |        n_id) AS rank
        |  FROM cand) WHERE rank <= 5""".stripMargin))(
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        graft.ext.Ivf.ivfTopK(e, e.where(col("vec_id") < 20),
          "vec_id", "embedding", "label", k = 5, nprobe = 3)
      }),

    // IVF over kmeans-learned cells — now hash-oracled (was rows-only):
    // the Lloyd iterations are FIXED-COUNT (iters = 2), so the oracle
    // UNROLLS them as a CTE chain (the same trick as graph_pagerank's
    // unrolled rounds). Seeding is made engine-neutral by ordering seed
    // rows on md5(vec_id || ':42') instead of xxhash64 (kmeansCells'
    // `orderHash` hook); each unrolled round replays Spark exactly:
    // unitize centroids, assign every row to the argmax-dot cell
    // (row_number ORDER BY dot DESC, cell DESC = array_max over
    // (score, cell) structs), recompute centroids as per-dimension AVG
    // (the typed-Aggregator mean). Ulp posture is topk_sim_ivf's:
    // row-summation order differs between engines, but assignment margins
    // dwarf accumulation ulps and candidate sims round to 4 before
    // ranking. The final SELECT is the shared ivfTopK probe/score/rank
    // contract.
    Reg("topk_sim_ivf_kmeans", Some(ivfKmeansSql))(
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        // materialize the index once — ivfTopK reads the cell assignment
        // three times (centroid collect, corpus side, query probe side),
        // and in production an IVF index is a persisted table, not a plan
        // re-derived per read
        val cells = graft.ext.Ivf.kmeansCells(e, "vec_id", "embedding",
          k = 8, iters = 2,
          orderHash = Some(md5(concat(col("vec_id").cast("string"),
            lit(":42"))))).ckpt()
        graft.ext.Ivf.ivfTopK(cells, cells.where(col("vec_id") < 20),
          "vec_id", "embedding", "cell", k = 5, nprobe = 3)
      }),

    // IVF search over the PERSISTED index — the production read path the
    // kmeans variant's own comment calls for: cell assignments AND
    // centroids are staged once at ingest (stagedAnnIndex), and the
    // search run reads both back — it never re-runs Lloyd, never
    // re-aggregates centroids, never scans embeddings.parquet at all
    // (PlanSpec pins the leaves). The oracle is topk_sim_ivf_kmeans's
    // replay VERBATIM, so the hash additionally proves staged index ≡
    // freshly-trained index (the text_bpe_vocab pattern).
    Reg("topk_sim_ivf_persisted", Some(ivfKmeansSql))(
      (s, dir) => {
        val idx = stagedAnnIndex(s, dir)
        val cells = s.read.parquet(s"$idx/ivf_cells.parquet")
        graft.ext.Ivf.ivfTopKStaged(cells, cells.where(col("vec_id") < 20),
          "vec_id", "embedding", "cell",
          s.read.parquet(s"$idx/ivf_centroids.parquet"),
          k = 5, nprobe = 3)
      }),

    // PQ-ADC search over the PERSISTED index: codebooks (m × ksub rows)
    // and the encoded codes table (16 bytes/vector — the ONLY corpus-sized
    // artifact a search touches) are staged at ingest; the query side
    // reads full vectors for the 20 query rows only (pushed vec_id < 20
    // scan). Oracle = topk_sim_pq's full replayed chain verbatim — the
    // hash pins persisted codebooks+codes ≡ freshly-trained.
    Reg("topk_sim_pq_persisted", Some(pqAdcSql(limit = 5)))(
      (s, dir) => {
        val idx = stagedAnnIndex(s, dir)
        val cbs = graft.ext.Pq.codebooksFromDf(
          s.read.parquet(s"$idx/pq_codebooks.parquet"))
        graft.ext.Pq.adcTopKFromCodes(
          s.read.parquet(s"$idx/pq_codes.parquet"),
          Tables(s, dir).embeddings.where(col("vec_id") < 20),
          "vec_id", "embedding", cbs, k = 5)
      }),

    // Product-quantization ADC search: per-subspace codebooks (16
    // subspaces × 16 codewords, md5-seeded, one Lloyd refinement), corpus
    // stored as 16 codes/vector (16 bytes vs 256 float bytes), queries
    // score by table lookup. m = 16 is the measured operating point on
    // this corpus: iid-random embeddings are PQ's adversarial case, and
    // recall@5 vs exact-dot top-5 goes 0.04 / 0.18 / 0.42 / 0.54 at
    // m = 4 / 8 / 16 / 32 (PqSpec pins the floor). The oracle replays the
    // ENTIRE chain — per-subspace seeding, L2 assignment in dot-product
    // form (c·c − 2·x·c, the only form both engines compute identically),
    // per-dim AVG means, re-assignment, and the 16-way ADC sum in fixed
    // subspace order — so the hash pins training, encoding, and search.
    Reg("topk_sim_pq", Some(pqAdcSql(limit = 5)))(
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        val cbs = graft.ext.Pq.train(e, "vec_id", "embedding",
          m = 16, dsub = 4, ksub = 16,
          orderHash = Some(md5(concat(col("vec_id").cast("string"),
            lit(":42")))))
        graft.ext.Pq.adcTopK(e, e.where(col("vec_id") < 20),
          "vec_id", "embedding", cbs, k = 5)
      }),

    // PQ search with EXACT re-ranking — the production shape: ADC prunes
    // to a 100-candidate shortlist per query, full vectors are read for
    // the shortlist only, and the final order is the same rounded-cosine
    // contract as topk_sim. Raw ADC cannot rank inside a tight cluster
    // (identical codes → tied scores → id tiebreak; recall@5 0.03 on the
    // clustered AnnRecallSpec fixture, 1.00 re-ranked). Oracle = the full
    // replayed ADC chain at limit 100, wrapped in the exact re-scoring.
    Reg("topk_sim_pq_rerank", Some(
      s"""WITH e2 AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
         |SELECT q_id, n_id, sim, rank FROM (
         |  SELECT s.q_id, s.n_id,
         |    ROUND(list_cosine_similarity(qe.emb, ne.emb), 4) AS sim,
         |    row_number() OVER (PARTITION BY s.q_id
         |      ORDER BY ROUND(list_cosine_similarity(qe.emb, ne.emb), 4)
         |        DESC, s.n_id) AS rank
         |  FROM (${pqAdcSql(limit = 100)}) s
         |  JOIN e2 qe ON qe.vec_id = s.q_id
         |  JOIN e2 ne ON ne.vec_id = s.n_id
         |  WHERE sqrt(list_dot_product(qe.emb, qe.emb)) > 0
         |    AND sqrt(list_dot_product(ne.emb, ne.emb)) > 0
         |) WHERE rank <= 5""".stripMargin))(
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        val cbs = graft.ext.Pq.train(e, "vec_id", "embedding",
          m = 16, dsub = 4, ksub = 16,
          orderHash = Some(md5(concat(col("vec_id").cast("string"),
            lit(":42")))))
        graft.ext.Pq.adcTopKRerank(e, e.where(col("vec_id") < 20),
          "vec_id", "embedding", cbs, k = 5, shortlist = 100)
      }),

    // ANN quality gate: recall@5 of the two scale paths (sign-LSH, IVF over
    // kmeans cells) against the ORACLE-GREEN brute-force baseline, at the
    // parameter points AnnRecallSpec pins to >=0.9 on this corpus (random
    // embeddings — the adversarial case for ANN; clustered real data does
    // better). Hash-oracled by SEEDED REPLAY (round-7 verdict item 3, the
    // topk_sim_ivf_kmeans trick): every stochastic input is deterministic
    // given its seed, so DuckDB replays all three approximate paths —
    // 16 tables × 4 plane literals for the LSH arm, the md5-seeded
    // unrolled-Lloyd chain for the IVF arm, the per-vector int8 grid for
    // the quantized arm — plus the brute-force baseline, and emits the
    // IDENTICAL (method, n_hits, n_exact, recall) rows.
    Reg("ann_recall", kind = "arm", oracle = Some {
      val lshBuckets = (0 until 16).map { t =>
        val bucketExpr = Similarity.lshPlanes(nPlanes = 4, dim = 64,
          seed = 42L + t).zipWithIndex.map { case (p, i) =>
            s"(CASE WHEN list_dot_product(emb, [${p.mkString(", ")}]) >= 0" +
              s" THEN ${1L << i} ELSE 0 END)"
          }.mkString(" + ")
        s"WHEN $t THEN $bucketExpr"
      }.mkString(" ")
      val tbls = (0 until 16).map(t => s"($t)").mkString(", ")
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
         |), exq AS (
         |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         |         q.emb AS q_emb, n.emb AS n_emb
         |  FROM e q JOIN e n ON n.vec_id <> q.vec_id WHERE q.vec_id < 20
         |), ex AS (${top5Of("exq", "q_id, n_id")}
         |), b AS (
         |  SELECT vec_id, emb, t.tbl AS tbl, CASE t.tbl $lshBuckets END AS bucket
         |  FROM e, (VALUES $tbls) t(tbl)
         |), lshc AS (
         |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id,
         |         q.emb AS q_emb, c.emb AS n_emb
         |  FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
         |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id
         |), lsh AS (${top5Of("lshc", "q_id, n_id")}
         |), ${kmCtes()}
         |, probes AS (
         |  SELECT q.vec_id AS q_id, q.emb AS q_emb, c.cell,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_dot_product(q.emb, c.cu) DESC, c.cell DESC) AS pr
         |  FROM afin q, sfin c WHERE q.vec_id < 20
         |), ivfc AS (
         |  SELECT p.q_id, p.q_emb, n.vec_id AS n_id, n.emb AS n_emb
         |  FROM probes p JOIN afin n ON n.cell = p.cell
         |  WHERE p.pr <= 7 AND n.vec_id <> p.q_id
         |), ivf AS (${top5Of("ivfc", "q_id, n_id")}
         |), qz AS (
         |  SELECT vec_id, emb, list_aggregate(emb, 'min') AS mn,
         |         list_aggregate(emb, 'max') AS mx
         |  FROM e
         |), dq AS (
         |  SELECT vec_id,
         |    CASE WHEN mx = mn THEN list_transform(emb, x -> mn)
         |         ELSE list_transform(emb, x -> mn +
         |           floor((x - mn) / (mx - mn) * 255) / 255.0 * (mx - mn))
         |    END AS emb
         |  FROM qz
         |), q8c AS (
         |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         |         q.emb AS q_emb, n.emb AS n_emb
         |  FROM e q JOIN dq n ON n.vec_id <> q.vec_id WHERE q.vec_id < 20
         |), q8 AS (${top5Of("q8c", "q_id, n_id")}
         |), stats AS (
         |  SELECT 'lsh' AS method,
         |    (SELECT COUNT(*) FROM ex JOIN lsh USING (q_id, n_id)) AS n_hits,
         |    (SELECT COUNT(*) FROM ex) AS n_exact
         |  UNION ALL SELECT 'ivf_kmeans',
         |    (SELECT COUNT(*) FROM ex JOIN ivf USING (q_id, n_id)),
         |    (SELECT COUNT(*) FROM ex)
         |  UNION ALL SELECT 'bf_int8',
         |    (SELECT COUNT(*) FROM ex JOIN q8 USING (q_id, n_id)),
         |    (SELECT COUNT(*) FROM ex)
         |)
         |SELECT method, n_hits, n_exact,
         |  CASE WHEN n_exact > 0
         |       THEN ROUND(CAST(n_hits AS DOUBLE) / n_exact, 4)
         |       ELSE 0.0 END AS recall
         |FROM stats""".stripMargin
    })(
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        val q = e.where(col("vec_id") < 20)
        // bounded (|q| x k rows): checkpoint so the brute-force pass runs
        // once, not once per method comparison
        val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
          .select("q_id", "n_id").ckpt()
        val lsh = Similarity.lshTopK(e, q, "vec_id", "embedding", k = 5,
          nPlanes = 4, tables = 16)
        // same persisted-index shape AND the same engine-neutral md5 seeding
        // as topk_sim_ivf_kmeans, so the oracle's kmCtes replay applies
        val cells = graft.ext.Ivf.kmeansCells(e, "vec_id", "embedding",
          k = 8, iters = 2,
          orderHash = Some(md5(concat(col("vec_id").cast("string"),
            lit(":42"))))).ckpt()
        val ivf = graft.ext.Ivf.ivfTopK(cells, cells.where(col("vec_id") < 20),
          "vec_id", "embedding", "cell", k = 5, nprobe = 7)
        // asymmetric quantized search: full-precision queries against the
        // int8-dequantized corpus — measures what the 4× memory saving
        // costs in recall (the production question for Similarity.quantize)
        val codes = Similarity.quantize(e, "vec_id", "embedding")
        val deq = codes.select(col("vec_id"),
          transform(col("codes"), c =>
            col("mn") + c.cast("double") / 255.0 * (col("mx") - col("mn")))
            .as("embedding"))
        val q8 = Similarity.bruteForceTopK(deq, q, "vec_id", "embedding", k = 5)
        Similarity.overlapStats(exact, lsh, "lsh")
          .union(Similarity.overlapStats(exact, ivf, "ivf_kmeans"))
          .union(Similarity.overlapStats(exact, q8, "bf_int8"))
      }),

    // Multimodal metadata projection (payload stays opaque).
    Reg("mm_meta", Some(
      """SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes,
        |  'application/octet-stream' AS mime
        |FROM documents""".stripMargin))(
      (s, dir) => Multimodal.mediaTable(Tables(s, dir).documents)
        .select("doc_id", "n_bytes", "mime")),

    // Multimodal decode/feature-extract. The typed Dataset keeps
    // `features: array<float>`, but the REGISTERED query projects it to a
    // scalar signature: f_i = byte_i/255f, so round(f_i*255) recovers the
    // exact byte and the whole decode stage oracles as integers (no float
    // formatting ambiguity, and the driver's pandas row-sort never sees an
    // unhashable ndarray column).
    Reg("mm_features", Some(
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  CAST(1 + octet_length(CAST(text AS BLOB)) % 640 AS BIGINT) AS width,
        |  CAST(1 + CASE WHEN octet_length(CAST(text AS BLOB)) = 0 THEN 0
        |       ELSE ord(substr(text, 1, 1)) % 480 END AS BIGINT) AS height,
        |  array_to_string(list_transform(generate_series(1, 8),
        |    i -> CAST(CASE WHEN octet_length(CAST(text AS BLOB)) >= i
        |              THEN ord(substr(text, i, 1)) ELSE 0 END AS VARCHAR)),
        |    ',') AS features_sig
        |FROM documents""".stripMargin))(
      (s, dir) => Multimodal.extractFeatures(s,
        Multimodal.mediaTable(Tables(s, dir).documents))
        .toDF()
        .select(col("doc_id"), col("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          concat_ws(",", transform(col("features"),
            f => round(f.cast("double") * 255).cast("long"))).as("features_sig"))),

    // Scalar projection of the decode stage: the stub codec is pure
    // arithmetic on payload bytes, so the mapPartitions pipeline can be
    // oracled exactly (ASCII corpus: first byte = ord of first char).
    Reg("mm_features_flat", Some(
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  CAST(1 + octet_length(CAST(text AS BLOB)) % 640 AS BIGINT) AS width,
        |  CAST(1 + CASE WHEN octet_length(CAST(text AS BLOB)) = 0 THEN 0
        |       ELSE ord(substr(text, 1, 1)) % 480 END AS BIGINT) AS height
        |FROM documents""".stripMargin))(
      (s, dir) => Multimodal.extractFeatures(s,
        Multimodal.mediaTable(Tables(s, dir).documents))
        .toDF()
        .select(col("doc_id"), col("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))),

    // REAL image decode, oracled: each doc's payload bytes render into a
    // w×h grayscale raster, ENCODE as a real BMP (javax.imageio), then
    // the production decode path ([[Multimodal.decode]], same dispatch
    // media rows take) reads it back. Reported dims come from the DECODED
    // image and the luma sum from the DECODED raster — the hash match
    // proves the real codec ran and round-tripped every pixel, while the
    // oracle replays only byte arithmetic (pixel j = payload byte
    // j mod len; ASCII corpus: byte = ord(char), as all mm_* oracles
    // assume).
    Reg("mm_decode_bmp", Some(
      """WITH m AS (SELECT doc_id, text,
        |             octet_length(CAST(text AS BLOB)) AS len FROM documents),
        |g AS (SELECT doc_id, text, len,
        |        1 + len % 16 AS w, 1 + doc_id % 16 AS h
        |      FROM m WHERE len > 0),
        |px AS (SELECT doc_id, w, h, text, len,
        |         unnest(generate_series(0, w * h - 1)) AS j FROM g)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(SUM(ord(substr(text, CAST(j % len AS INTEGER) + 1, 1)))
        |    AS BIGINT) AS luma_sum
        |FROM px GROUP BY 1, 2, 3
        |UNION ALL
        |SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |FROM m WHERE len = 0""".stripMargin))(
      (s, dir) => Multimodal.bmpRoundTrip(s,
        Multimodal.mediaTable(Tables(s, dir).documents))),

    // REAL WAV audio decode, oracled — the audio twin of mm_decode_bmp
    // (javax.sound.sampled instead of javax.imageio): each doc's payload
    // bytes render into n = 1 + len mod 64 full-scale mono PCM samples,
    // ENCODE as a real WAV, then the production [[Multimodal.decode]]
    // dispatch reads it back. Decoded sample/channel counts and the
    // amplitude sum come from the DECODED PCM — the hash proves the real
    // codec ran and round-tripped every sample; the oracle replays byte
    // arithmetic only (sample j = (byte − 128) << 8, so |s| >> 8 =
    // |byte − 128|).
    Reg("mm_decode_wav", Some(
      """WITH m AS (SELECT doc_id, text,
        |             octet_length(CAST(text AS BLOB)) AS len FROM documents),
        |g AS (SELECT doc_id, text, len, 1 + len % 64 AS n
        |      FROM m WHERE len > 0),
        |sx AS (SELECT doc_id, n, text, len,
        |         unnest(generate_series(0, n - 1)) AS j FROM g)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |  CAST(1 AS BIGINT) AS channels,
        |  CAST(SUM(ABS(ord(substr(text, CAST(j % len AS INTEGER) + 1, 1))
        |    - 128)) AS BIGINT) AS amp_sum
        |FROM sx GROUP BY 1, 2, 3
        |UNION ALL
        |SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(0 AS BIGINT)
        |FROM m WHERE len = 0""".stripMargin))(
      (s, dir) => Multimodal.wavRoundTrip(s,
        Multimodal.mediaTable(Tables(s, dir).documents))),

    // Audio gating features from DECODED PCM (silence/clipping/noise
    // filters a training pipeline applies before keeping a clip): energy
    // Σs², peak |s|, and mean-crossing count — all exact integers, the
    // oracle replays the byte arithmetic plus the same integer
    // cross-multiply (s·n vs Σs) the kernel uses for the mean sign test.
    Reg("mm_audio_features", Some(
      """WITH m AS (SELECT doc_id, text,
        |             octet_length(CAST(text AS BLOB)) AS len FROM documents),
        |g AS (SELECT doc_id, text, len, 1 + len % 64 AS n
        |      FROM m WHERE len > 0),
        |sx AS (SELECT doc_id, n, text, len,
        |         unnest(generate_series(0, n - 1)) AS j FROM g),
        |b AS (SELECT doc_id, n, j,
        |        (ord(substr(text, CAST(j % len AS INTEGER) + 1, 1)) - 128)
        |          * 256 AS s FROM sx),
        |w AS (SELECT doc_id, n, j, s,
        |        LAG(s) OVER (PARTITION BY doc_id ORDER BY j) AS sp,
        |        SUM(s) OVER (PARTITION BY doc_id) AS ssum FROM b)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |  CAST(SUM(CASE WHEN sp IS NOT NULL AND
        |      ((sp * n - ssum >= 0) <> (s * n - ssum >= 0))
        |    THEN 1 ELSE 0 END) AS BIGINT) AS mean_crossings,
        |  CAST(SUM(s * s) AS BIGINT) AS energy,
        |  CAST(MAX(ABS(s)) AS BIGINT) AS peak
        |FROM w GROUP BY 1, 2
        |UNION ALL
        |SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |FROM m WHERE len = 0""".stripMargin))(
      (s, dir) => Multimodal.wavAudioStats(s,
        Multimodal.mediaTable(Tables(s, dir).documents))),

    // Multimodal resize stage (stub resampler): stride-sampled checksum is
    // pure byte arithmetic -> the partition-parallel plumbing oracles
    // exactly (ASCII corpus: ord(char) == byte).
    Reg("mm_resize", Some(
      """WITH m AS (SELECT doc_id, text,
        |             octet_length(CAST(text AS BLOB)) AS len FROM documents)
        |SELECT doc_id,
        |  CAST(1 + len % 640 AS BIGINT) AS src_w,
        |  CAST(1 + CASE WHEN len = 0 THEN 0
        |       ELSE ord(substr(text, 1, 1)) % 480 END AS BIGINT) AS src_h,
        |  CAST(8 AS BIGINT) AS target_w,
        |  CAST(8 AS BIGINT) AS target_h,
        |  CAST(coalesce(list_aggregate(list_transform(
        |    list_filter(list_transform(generate_series(0, 63),
        |      j -> j * greatest(len // 64, 1)), p -> p < len),
        |    p -> ord(substr(text, p + 1, 1))), 'sum'), 0) AS BIGINT) AS checksum
        |FROM m""".stripMargin))(
      (s, dir) => Multimodal.resize(s,
        Multimodal.mediaTable(Tables(s, dir).documents), targetW = 8, targetH = 8)
        .toDF()
        .select(col("doc_id"),
          col("src_w").cast("long").as("src_w"),
          col("src_h").cast("long").as("src_h"),
          col("target_w").cast("long").as("target_w"),
          col("target_h").cast("long").as("target_h"),
          col("checksum"))),

    // Multimodal frame sampling (payload as fixed-16-byte-frame video,
    // every 2nd frame kept) — one row per kept frame, oracled frame-exact.
    Reg("mm_frames", Some(
      """WITH m AS (SELECT doc_id, text,
        |             octet_length(CAST(text AS BLOB)) AS len FROM documents),
        |     f AS (SELECT doc_id, text, len,
        |             unnest(generate_series(0,
        |               CAST((len + 15) // 16 AS BIGINT) - 1, 2)) AS frame_idx
        |           FROM m)
        |SELECT doc_id, frame_idx,
        |  CAST(least((frame_idx + 1) * 16, len) - frame_idx * 16 AS BIGINT)
        |    AS n_frame_bytes,
        |  CAST(coalesce(list_aggregate(list_transform(
        |    generate_series(frame_idx * 16 + 1, least((frame_idx + 1) * 16, len)),
        |    i -> ord(substr(text, i, 1))), 'sum'), 0) AS BIGINT) AS checksum
        |FROM f""".stripMargin))(
      (s, dir) => Multimodal.sampleFrames(s,
        Multimodal.mediaTable(Tables(s, dir).documents), frameBytes = 16, every = 2)
        .toDF()
        .select(col("doc_id"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("n_frame_bytes").cast("long").as("n_frame_bytes"),
          col("checksum"))),

    // Near-dedup APPLIED: the corpus minus the larger id of every verified
    // near-dup pair (keep-first policy) — what a cleaning job actually
    // emits. Oracle-able because the pair list itself is (dedup_near).
    Reg("pipeline_near_clean", Some(nearCleanSql))(
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.7)
        Dedup.dropNearDups(docs, pairs, "doc_id")
          .select("doc_id", "lang", "source")
      }),

    // The DEFENDED composition order for clone-heavy corpora (SCALE.md
    // round 12: pipeline_near_clean measured 13×/decade on the
    // ×100-clone corpus because banding meets 100-member identical
    // groups; this shape is the fix): exact-dup pre-collapse to min-id
    // representatives, then near-dup cleaning over representatives
    // only. The OUTPUT is provably identical to pipeline_near_clean —
    // an exact clone and its representative have the same shingle set,
    // so (a) every non-representative is the larger end of a Jaccard-1
    // pair (dropped either way) and (b) any smaller near-dup of a
    // surviving doc maps to a smaller representative near-dup — which
    // is why the oracle is shared VERBATIM: the hash proves the cheap
    // order computes the expensive order's answer.
    Reg("pipeline_near_clean_collapsed", Some(nearCleanSql))(
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val keep = Dedup.exactDedupGroups(docs, "text", "doc_id")
          .select(col("keep_id").as("doc_id"))
        val reps = docs.join(keep, Seq("doc_id"), "left_semi")
        val pairs = Dedup.nearDupPairs(reps, "doc_id", "text",
          threshold = 0.7)
        Dedup.dropNearDups(reps, pairs, "doc_id")
          .select("doc_id", "lang", "source")
      }),

    // End-to-end training-data prep: deterministic exact dedup (keep min id
    // per content) → quality scoring → threshold filter. The composition a
    // 100 TB corpus-cleaning job actually runs, oracled step-for-step.
    Reg("pipeline_clean_corpus", Some(
      s"""WITH kept AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text)
         |SELECT d.doc_id, d.lang,
         |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
         |  least(CAST(len(string_split(text,' ')) AS BIGINT) / 100.0, 1.0) * 0.5
         |    + (1.0 - least((CAST(len(list_filter(string_split(text,' '), w -> w IN $duckStop)) AS DOUBLE)
         |                    / len(string_split(text,' '))) * 2.0, 1.0)) * 0.3
         |    + least((CAST(length(replace(text,' ','')) AS DOUBLE)
         |             / len(string_split(text,' '))) / 8.0, 1.0) * 0.2 AS q_score
         |FROM documents d JOIN kept USING (doc_id)
         |WHERE least(CAST(len(string_split(text,' ')) AS BIGINT) / 100.0, 1.0) * 0.5
         |    + (1.0 - least((CAST(len(list_filter(string_split(text,' '), w -> w IN $duckStop)) AS DOUBLE)
         |                    / len(string_split(text,' '))) * 2.0, 1.0)) * 0.3
         |    + least((CAST(length(replace(text,' ','')) AS DOUBLE)
         |             / len(string_split(text,' '))) / 8.0, 1.0) * 0.2 >= 0.5"""
        .stripMargin))(
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val kept = Dedup.exactDedupGroups(docs, "text", "doc_id")
          .select(col("keep_id").as("doc_id"))
        val deduped = docs.join(kept, Seq("doc_id"), "left_semi")
        TextOps.qualityColumns(deduped, "text")
          .where(col("q_score") >= 0.5)
          .select("doc_id", "lang", "n_tokens", "q_score")
      }),

    // Row-level drop provenance — the "why did my document disappear"
    // debug view of pipeline_clean_corpus: every doc gets an independent
    // boolean per drop reason (exact-dup loser, quality below bar) plus
    // the final kept verdict, so a corpus owner can audit the pipeline
    // without re-running it stage by stage. Same predicates as the
    // pipeline, evaluated for ALL rows (reasons are not short-circuited).
    Reg("pipeline_drop_reasons", Some(
      s"""WITH kept AS (SELECT min(doc_id) AS doc_id FROM documents
         |              GROUP BY text),
         |q AS (SELECT doc_id,
         |  least(CAST(len(string_split(text,' ')) AS BIGINT) / 100.0, 1.0) * 0.5
         |    + (1.0 - least((CAST(len(list_filter(string_split(text,' '), w -> w IN $duckStop)) AS DOUBLE)
         |                    / len(string_split(text,' '))) * 2.0, 1.0)) * 0.3
         |    + least((CAST(length(replace(text,' ','')) AS DOUBLE)
         |             / len(string_split(text,' '))) / 8.0, 1.0) * 0.2 AS qs
         |  FROM documents)
         |SELECT d.doc_id, (k.doc_id IS NULL) AS is_exact_dup,
         |  (qs < 0.5) AS quality_fail,
         |  (k.doc_id IS NOT NULL AND qs >= 0.5) AS kept
         |FROM documents d JOIN q ON q.doc_id = d.doc_id
         |LEFT JOIN kept k ON k.doc_id = d.doc_id""".stripMargin))(
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val winners = Dedup.exactDedupGroups(docs, "text", "doc_id")
          .select(col("keep_id").as("doc_id"), lit(true).as("__w"))
        TextOps.qualityColumns(docs, "text")
          .join(winners, Seq("doc_id"), "left")
          .select(col("doc_id"), col("__w").isNull.as("is_exact_dup"),
            (col("q_score") < 0.5).as("quality_fail"),
            (col("__w").isNotNull && col("q_score") >= 0.5).as("kept"))
      }),

    // Media near-dup via perceptual hash: 64-bit average-hash over the
    // (stub-sampled) payload, banded candidate join + exact Hamming verify
    // — SimHash's machinery pointed at the multimodal column. The oracle
    // is the BRUTE-FORCE all-pairs Hamming over the same signatures
    // (computed bitwise from the sample lists), so the banding is proven
    // complete, not just plausible. The sampler reads UTF-8 payload BYTES,
    // so the oracle indexes bytes too — via the hex encoding, since DuckDB
    // has no direct blob subscript ('0x'||hex pair i -> unsigned byte i,
    // matching the Spark side's `payload(p) & 0xff` on any input, not just
    // ASCII).
    Reg("mm_phash_pairs", Some(
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS len
        |  FROM documents
        |), h AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(0, 63), i ->
        |      CASE WHEN i * GREATEST(len // 64, 1) < len
        |           THEN CAST('0x' ||
        |             substr(hx, 2 * i * GREATEST(len // 64, 1) + 1, 2) AS INT)
        |           ELSE 0 END) AS v
        |  FROM b
        |), s AS (
        |  SELECT doc_id, v, list_aggregate(v, 'sum') AS sv FROM h
        |)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(len(list_filter(generate_series(1, 64), i ->
        |    (a.v[i] * 64 > a.sv) <> (b.v[i] * 64 > b.sv))) AS BIGINT)
        |    AS hamming
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE len(list_filter(generate_series(1, 64), i ->
        |    (a.v[i] * 64 > a.sv) <> (b.v[i] * 64 > b.sv))) <= 3"""
        .stripMargin))(
      (s, dir) => Multimodal.phashPairs(s,
          Multimodal.mediaTable(Tables(s, dir).documents))
        .select(col("a_id"), col("b_id"), col("hamming").cast("long"))),

    // Vocabulary build: top-1000 tokens by corpus frequency with dense ids
    // — the tokenizer-training precursor. Global top-k plans as per-
    // partition top-k + merge (TakeOrderedAndProject), never a full sort;
    // the row_number runs over the already-limited 1000 rows.
    Reg("vocab_topk", Some(
      """WITH tf AS (
        |  SELECT t.token AS token, COUNT(*) AS tf
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token
        |        FROM documents) t
        |  GROUP BY t.token
        |), top AS (
        |  SELECT token, tf FROM tf ORDER BY tf DESC, token LIMIT 1000
        |)
        |SELECT token, tf,
        |  ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS vocab_id
        |FROM top""".stripMargin))(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        Tables(s, dir).documents
          .select(explode(TextOps.words(col("text"))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("tf"))
          .orderBy(col("tf").desc, col("token")).limit(1000)
          .withColumn("vocab_id", row_number()
            .over(Window.orderBy(col("tf").desc, col("token"))).cast("long"))
      }),

    // Train/test contamination: fraction of each TEST doc's distinct
    // 3-shingles that appear anywhere in the TRAIN split (the md5
    // content-hash split of text_split) — the decontamination report every
    // eval pipeline needs. Shuffled equality join on the shingle; the
    // train side dedupes first so the join never fans out.
    Reg("contamination", Some(
      s"""WITH b AS (
         |  SELECT doc_id, text,
         |    CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 10 AS bucket
         |  FROM documents
         |), tr AS (
         |  SELECT DISTINCT unnest($duckShingles) AS sh
         |  FROM b WHERE bucket < 8
         |), te AS (
         |  SELECT doc_id, unnest($duckShingles) AS sh FROM b WHERE bucket = 9
         |)
         |SELECT te.doc_id, COUNT(*) AS n_shingles, COUNT(tr.sh) AS n_hit,
         |  CAST(COUNT(tr.sh) AS DOUBLE) / COUNT(*) AS contamination
         |FROM te LEFT JOIN tr ON te.sh = tr.sh
         |GROUP BY te.doc_id""".stripMargin))(
      (s, dir) => {
        val docs = Tables(s, dir).documents
          .withColumn("bucket", TextOps.hashBucket(col("text"), 10))
        val tr = docs.where(col("bucket") < 8)
          .select(explode(TextOps.shingles(col("text"), 3)).as("sh")).distinct()
        val te = docs.where(col("bucket") === 9)
          .select(col("doc_id"), explode(TextOps.shingles(col("text"), 3)).as("sh"))
        te.join(tr.withColumn("hit", lit(1)), Seq("sh"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_hit"))
          .withColumn("contamination",
            col("n_hit").cast("double") / col("n_shingles"))
      }),

    // Within-doc repetition (Gopher-style quality rule): duplicated-trigram
    // fraction per doc — high values flag boilerplate/spam. Occurrence
    // (not distinct) trigrams feed one grouped count + count-distinct.
    Reg("text_repetition", Some(
      """WITH g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i + 1] || ' ' ||
        |           string_split(text, ' ')[i + 2])) AS tg
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3
        |)
        |SELECT doc_id, COUNT(*) AS n_trigrams,
        |  COUNT(DISTINCT tg) AS n_distinct,
        |  1.0 - CAST(COUNT(DISTINCT tg) AS DOUBLE) / COUNT(*) AS rep_frac
        |FROM g GROUP BY doc_id""".stripMargin))(
      (s, dir) => Tables(s, dir).documents
        .select(col("doc_id"), explode(TextOps.ngramTokens(col("text"), 3)).as("tg"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_trigrams"),
          countDistinct(col("tg")).as("n_distinct"))
        .withColumn("rep_frac",
          lit(1.0) - col("n_distinct").cast("double") / col("n_trigrams"))),

    // Scalar quantization of embeddings to int8-range codes (float32 →
    // 1 byte/dim + per-vector (mn,mx)): the memory lever that makes a
    // 10^11-vector ANN index fit. Codes stringify for the oracle compare
    // (list columns don't hash portably); boundaries are exact IEEE
    // double arithmetic on both engines.
    Reg("eq_quantize", Some(
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dd FROM embeddings
        |), m AS (
        |  SELECT vec_id, dd, list_min(dd) AS mn, list_max(dd) AS mx FROM e
        |)
        |SELECT vec_id, mn, mx,
        |  array_to_string(list_transform(dd, x ->
        |    CAST(CAST(CASE WHEN mx = mn THEN 0
        |                   ELSE FLOOR((x - mn) / (mx - mn) * 255)
        |              END AS BIGINT) AS VARCHAR)), ',') AS codes
        |FROM m""".stripMargin))(
      (s, dir) => Similarity.quantize(Tables(s, dir).embeddings,
          "vec_id", "embedding")
        .select(col("vec_id"), col("mn"), col("mx"),
          concat_ws(",", transform(col("codes"), _.cast("string")))
            .as("codes"))),

    // Bigram-LM cross-entropy per doc (the KenLM-style quality filter):
    // each doc scored by −avg ln p(w2|w1) under the corpus's own add-one-
    // smoothed per-lang bigram LM. The oracle replays the identical LM.
    Reg("text_perplexity", Some(
      """WITH w AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
        |), toks AS (
        |  SELECT lang, unnest(ws) AS w1 FROM w
        |), uni AS (
        |  SELECT lang, w1, COUNT(*) AS cu FROM toks GROUP BY lang, w1
        |), vocab AS (
        |  SELECT lang, COUNT(*) AS v FROM uni GROUP BY lang
        |), db AS (
        |  SELECT doc_id, lang,
        |    unnest(list_transform(generate_series(1, len(ws) - 1),
        |                          i -> ws[i] || ' ' || ws[i + 1])) AS bigram
        |  FROM w
        |), db2 AS (
        |  SELECT doc_id, lang, bigram, string_split(bigram, ' ')[1] AS w1
        |  FROM db
        |), bi AS (
        |  SELECT lang, bigram, COUNT(*) AS cb FROM db2 GROUP BY lang, bigram
        |)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(AVG(-ln(CAST(cb + 1 AS DOUBLE) / CAST(cu + v AS DOUBLE))), 6)
        |    AS cross_entropy
        |FROM db2
        |JOIN bi USING (lang, bigram)
        |JOIN uni USING (lang, w1)
        |JOIN vocab USING (lang)
        |GROUP BY doc_id""".stripMargin))(
      (s, dir) => TextOps.crossEntropyScores(Tables(s, dir).documents)),

    // Sequence packing: concat-and-chunk on the global token axis — the
    // step between "clean corpus" and "training batches". One row per
    // (doc, overlapped chunk) with the doc's token sub-range; docs crossing
    // a chunk boundary split (GPT-style packing). The oracle replays the
    // single-window formulation; the Spark plan is the two-level
    // distributed prefix sum (see Packing.scala scaladoc).
    Reg("pack_chunks", Some(
      """WITH d AS (
        |  SELECT doc_id, length(text) AS len FROM documents
        |  WHERE length(text) > 0
        |), c AS (
        |  SELECT doc_id, len,
        |    CAST(COALESCE(SUM(len) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS s
        |  FROM d
        |)
        |SELECT doc_id, u AS chunk_id,
        |  GREATEST(s, u * 2048) AS tok_start,
        |  LEAST(s + len, (u + 1) * 2048) AS tok_end
        |FROM c, UNNEST(range(s // 2048, (s + len - 1) // 2048 + 1)) AS t(u)"""
        .stripMargin))(
      (s, dir) => Packing.packChunks(Tables(s, dir).documents,
        "doc_id", length(col("text")), capacity = 2048)),

    // Packing utilization: every chunk but the last is exactly full — the
    // invariant that makes packed batches waste zero context. fill_ratio
    // divides by the power-of-two capacity exactly, so no rounding.
    Reg("pack_stats", Some(
      """WITH d AS (
        |  SELECT doc_id, length(text) AS len FROM documents
        |  WHERE length(text) > 0
        |), c AS (
        |  SELECT doc_id, len,
        |    CAST(COALESCE(SUM(len) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS s
        |  FROM d
        |), ch AS (
        |  SELECT u AS chunk_id,
        |    GREATEST(s, u * 2048) AS tok_start,
        |    LEAST(s + len, (u + 1) * 2048) AS tok_end
        |  FROM c, UNNEST(range(s // 2048, (s + len - 1) // 2048 + 1)) AS t(u)
        |)
        |SELECT chunk_id, COUNT(*) AS n_docs,
        |  CAST(SUM(tok_end - tok_start) AS BIGINT) AS n_tokens,
        |  CAST(SUM(tok_end - tok_start) AS BIGINT) / 2048.0 AS fill_ratio
        |FROM ch GROUP BY chunk_id""".stripMargin))(
      (s, dir) => Packing.chunkStats(
        Packing.packChunks(Tables(s, dir).documents,
          "doc_id", length(col("text")), capacity = 2048),
        capacity = 2048)),

    // Keyword search: conjunctive (AND) lookup over the inverted index,
    // ranked by summed term frequency — the grep of a curated corpus, and
    // the retrieval twin of `contamination`'s shingle lookup. The
    // group-count-equals-arity trick gets AND semantics from ONE shuffle
    // instead of |terms| self-joins.
    Reg("text_search", Some(
      """WITH idx AS (
        |  SELECT t.token AS token, doc_id, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |        FROM documents) t
        |  GROUP BY 1, 2
        |), m AS (
        |  SELECT doc_id, COUNT(DISTINCT token) AS hits,
        |    CAST(SUM(tf) AS BIGINT) AS score
        |  FROM idx WHERE token IN ('spark', 'merge', 'window') GROUP BY 1
        |)
        |SELECT doc_id, score FROM m WHERE hits = 3
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin))(
      (s, dir) => TextOps.searchAnd(
        TextOps.invertedIndex(Tables(s, dir).documents),
        Seq("spark", "merge", "window"), k = 20)),

    // The index-at-rest search path: same AND semantics and oracle as
    // text_search, but the postings come from the PERSISTED inverted index
    // (staged once per corpus) — the production posture where the index is
    // written at ingest and query-time cost is the queried terms' postings
    // (IN-list pushed to the postings scan; PlanSpec pins it), never a
    // corpus re-tokenization.
    Reg("text_search_indexed", Some(
      """WITH idx AS (
        |  SELECT t.token AS token, doc_id, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |        FROM documents) t
        |  GROUP BY 1, 2
        |), m AS (
        |  SELECT doc_id, COUNT(DISTINCT token) AS hits,
        |    CAST(SUM(tf) AS BIGINT) AS score
        |  FROM idx WHERE token IN ('spark', 'merge', 'window') GROUP BY 1
        |)
        |SELECT doc_id, score FROM m WHERE hits = 3
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin))(
      (s, dir) => TextOps.searchAnd(
        s.read.parquet(s"${stagedInvertedIndex(s, dir)}/postings.parquet"),
        Seq("spark", "merge", "window"), k = 20)),

    // Sliding-window chunking (chunk 32, stride 24 — small enough that
    // sf0.01 docs emit multiple windows): every chunk must contribute a
    // new token; a short doc emits exactly its start-0 window. DuckDB's
    // 1-based inclusive list_slice replays Spark's (start, length) slice
    // exactly; range() excludes the end like sequence(0, n-1) includes it.
    Reg("text_chunks", Some(
      """SELECT doc_id, CAST(tok_start // 24 AS BIGINT) AS chunk_id,
        |  tok_start,
        |  CAST(len(list_slice(w, tok_start + 1, tok_start + 32)) AS BIGINT)
        |    AS n_tokens,
        |  array_to_string(list_slice(w, tok_start + 1, tok_start + 32), ' ')
        |    AS chunk_text
        |FROM (
        |  SELECT doc_id, string_split(text, ' ') AS w,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |  UNNEST(range(0, n, 24)) AS t(tok_start)
        |WHERE tok_start = 0 OR tok_start + 8 < n""".stripMargin))(
      (s, dir) => TextOps.chunkDocs(Tables(s, dir).documents,
        chunkTokens = 32, stride = 24)),

    // BM25-ranked (OR) search: the scoring twin of `text_search`. The SQL
    // mirrors the Spark arithmetic EXPRESSION-FOR-EXPRESSION (same literal
    // spellings, avgdl as exact sum/count, ln of the +1 idf form, round 6)
    // so the hash compare proves the ranking formula, not just row counts.
    Reg("text_search_bm25", Some(
      """WITH post AS (
        |  SELECT token, doc_id, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |        FROM documents) t
        |  WHERE token IN ('spark', 'merge', 'window')
        |  GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT token, COUNT(*) AS df FROM post GROUP BY 1
        |), dl AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |  FROM documents
        |), stats AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
        |         CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*)
        |           AS avgdl
        |  FROM documents
        |)
        |SELECT doc_id,
        |  ROUND(SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        |    * (tf * (1.2 + 1.0))
        |    / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
        |FROM post JOIN dfreq USING (token) JOIN dl USING (doc_id), stats
        |GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin))(
      (s, dir) => TextOps.searchBM25(Tables(s, dir).documents,
        Seq("spark", "merge", "window"), k = 20)),

    // Reciprocal-rank fusion ([[TextOps.rrfFuse]]): BM25 and boolean-AND
    // top-20s fused by Σ 1/(60+rank) — the hybrid-search merge. The two
    // RRF addends are a deterministic 2-term IEEE sum; one rounding site.
    Reg("search_rrf", Some(
      """WITH post AS (
        |  SELECT token, doc_id, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |        FROM documents) t
        |  WHERE token IN ('spark', 'merge', 'window')
        |  GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT token, COUNT(*) AS df FROM post GROUP BY 1
        |), dl AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |  FROM documents
        |), stats AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
        |         CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*)
        |           AS avgdl
        |  FROM documents
        |), bm AS (
        |  SELECT doc_id,
        |    ROUND(SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        |      * (tf * (1.2 + 1.0))
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
        |  FROM post JOIN dfreq USING (token) JOIN dl USING (doc_id), stats
        |  GROUP BY doc_id
        |  ORDER BY score DESC, doc_id LIMIT 20
        |), am AS (
        |  SELECT doc_id, score FROM (
        |    SELECT doc_id, COUNT(DISTINCT token) AS hits,
        |      CAST(SUM(tf) AS BIGINT) AS score
        |    FROM post GROUP BY 1)
        |  WHERE hits = 3 ORDER BY score DESC, doc_id LIMIT 20
        |), u AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM bm
        |  UNION ALL
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM am
        |)
        |SELECT doc_id,
        |  CAST(FLOOR(SUM(1.0 / (60 + r)) * 1000000 + 0.5) AS BIGINT)
        |    / 1000000.0 AS rrf,
        |  COUNT(*) AS n_lists
        |FROM u GROUP BY 1""".stripMargin))(
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val terms = Seq("spark", "merge", "window")
        TextOps.rrfFuse(Seq(
          TextOps.searchBM25(docs, terms, k = 20),
          TextOps.searchAnd(TextOps.invertedIndex(docs), terms, k = 20)))
      }),

    // Per-domain cap: keep at most 5 docs per source, preferring longer
    // ones — the Common-Crawl-style guard against one domain dominating
    // the training mix. Plans as WindowGroupLimit (per-partition rank
    // short-circuit), not a full per-group sort + filter.
    Reg("domain_cap", Some(
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 5""".stripMargin))(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        Tables(s, dir).documents
          .withColumn("rk", row_number().over(Window.partitionBy("source")
            .orderBy(col("n_chars").desc, col("doc_id"))))
          .where(col("rk") <= 5)
          .select("doc_id", "source")
      }),

    // Paragraph-level dedup (the CCNet/RefinedWeb preprocessing step):
    // 12-token windows stand in for paragraphs on this separator-free
    // corpus ([[Paragraphs.explodeParagraphs]] is the structural-separator
    // path); every repeat of a paragraph after its first corpus-order
    // occurrence is dropped, docs reassembled in order. Oracled end to end
    // — split, window grouping, global keep-first, ordered reassembly.
    // (On this corpus: ~110 of ~2.5k paragraphs drop at sf0.01, from the
    // planted near-dup docs.)
    Reg("para_dedup", Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(l) AS tok,
        |    unnest(generate_series(0, len(l) - 1)) AS pos
        |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
        |), paras AS (
        |  SELECT doc_id, pos // 12 AS para_idx,
        |    string_agg(tok, ' ' ORDER BY pos) AS para
        |  FROM toks GROUP BY 1, 2
        |), keep AS (
        |  SELECT doc_id, para_idx, para,
        |    row_number() OVER (PARTITION BY para
        |      ORDER BY doc_id, para_idx) AS rn
        |  FROM paras
        |)
        |SELECT doc_id, string_agg(para, ' ' ORDER BY para_idx) AS text_clean,
        |  COUNT(*) AS n_paras
        |FROM keep WHERE rn = 1 GROUP BY doc_id""".stripMargin))(
      (s, dir) => Paragraphs.reassemble(
          // checkpointed: dropRepeatedParagraphs reads the paragraph table
          // twice (firsts aggregate + semi-join probe) — materialize the
          // explode+groupBy split once instead of running it per pass
          Paragraphs.dropRepeatedParagraphs(
            Paragraphs.tokenWindowParagraphs(Tables(s, dir).documents,
              "doc_id", "text", tokensPerPara = 12).ckpt()))
        .withColumnRenamed("id", "doc_id")),

    // Boilerplate triage report: paragraphs recurring across >= 2 distinct
    // docs with doc-frequency and occurrence counts — what a pipeline
    // owner reads before choosing a dropBoilerplate threshold.
    Reg("para_boilerplate", Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(l) AS tok,
        |    unnest(generate_series(0, len(l) - 1)) AS pos
        |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
        |), paras AS (
        |  SELECT doc_id, pos // 12 AS para_idx,
        |    string_agg(tok, ' ' ORDER BY pos) AS para
        |  FROM toks GROUP BY 1, 2
        |)
        |SELECT para, COUNT(DISTINCT doc_id) AS n_docs,
        |  COUNT(*) AS n_occurrences
        |FROM paras GROUP BY para HAVING COUNT(DISTINCT doc_id) >= 2"""
        .stripMargin))(
      (s, dir) => Paragraphs.boilerplateReport(
        Paragraphs.tokenWindowParagraphs(Tables(s, dir).documents,
          "doc_id", "text", tokensPerPara = 12), minDocs = 2)),

    // Deterministic hash sharding + balance audit: the shard column is a
    // pure content-hash map (the only 100 TB-shaped assignment — see
    // Sampling.assignShard scaladoc), the stats the proof of balance.
    // Oracle hardened against engine-version drift (r06 hash-FAIL replayed
    // clean on DuckDB 1.0.0): (a) the 60-bit-hash mod 8 only reads the low
    // 3 bits, i.e. the 15th hex digit — an arithmetic strpos fold replaces
    // the string-literal '0x' cast; (b) SUM over integers is HUGEINT in
    // DuckDB, whose client rendering is version-dependent — pin BIGINT.
    Reg("shard_stats", Some(
      """SELECT CAST((strpos('0123456789abcdef', substr(md5(text), 15, 1))
        |           - 1) % 8 AS BIGINT) AS shard,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |FROM documents GROUP BY 1""".stripMargin))(
      (s, dir) => Sampling.shardStats(Tables(s, dir).documents,
        col("text"), TextOps.tokenCount(col("text")), nShards = 8)),

    // Text normalization (lowercase, strip non-alphanumerics, collapse
    // whitespace, trim) — the canonical cleaning first pass. This corpus is
    // already lowercase/space-clean, so the query mutates each doc
    // deterministically (upper-case / punctuation+padding / whitespace
    // inflation by doc_id residue) and normalization must recover the
    // original bytes; both engines replay mutation AND normalization, so
    // the hash compare proves the transform, not a no-op.
    Reg("text_normalize", Some(
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(CASE
        |      WHEN doc_id % 3 = 0 THEN upper(text)
        |      WHEN doc_id % 3 = 1 THEN '  ' || text || '!!'
        |      ELSE replace(text, ' ', '   ') END),
        |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
        |FROM documents""".stripMargin))(
      (s, dir) => {
        val mutated = when(col("doc_id") % 3 === 0, upper(col("text")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("  "), col("text"), lit("!!")))
          .otherwise(regexp_replace(col("text"), " ", "   "))
        Tables(s, dir).documents
          .select(col("doc_id"), TextOps.normalizeText(mutated).as("norm"))
      }),

    // Homoglyph/confusable folding ([[TextOps.foldConfusables]]) — the
    // spam-evasion counter: visually-identical Cyrillic/Greek/fullwidth
    // swaps and hidden zero-width characters defeat exact and shingle
    // dedup unless folded first. Same mutate-then-recover posture as
    // text_normalize: each doc is adversarially mutated by doc_id residue
    // (Cyrillic/Greek letter swaps, zero-width injection after spaces,
    // fullwidth swaps), both engines replay mutation AND fold, and the
    // hash compare proves the fold recovers the original bytes. The
    // confusable map is embedded from the ONE definition in TextOps.
    Reg("text_confusables", Some {
      val zwsp = "\u200b"
      s"""SELECT doc_id,
         |  translate(CASE
         |      WHEN doc_id % 3 = 0 THEN translate(text, 'ao', 'аο')
         |      WHEN doc_id % 3 = 1
         |        THEN replace(translate(text, 'c', 'с'), ' ', ' $zwsp')
         |      ELSE translate(text, 'e', 'ｅ') END,
         |    '${TextOps.confusablesFrom}', '${TextOps.confusablesTo}')
         |    AS folded
         |FROM documents""".stripMargin
    })(
      (s, dir) => {
        val mutated = when(col("doc_id") % 3 === 0,
            translate(col("text"), "ao", "\u0430\u03bf"))
          .when(col("doc_id") % 3 === 1,
            regexp_replace(translate(col("text"), "c", "\u0441"),
              " ", " \u200b"))
          .otherwise(translate(col("text"), "e", "\uff45"))
        Tables(s, dir).documents
          .select(col("doc_id"), TextOps.foldConfusables(mutated).as("folded"))
      }),

    // Normalization-aware exact dedup: union the corpus with a mutated copy
    // of itself (case/punct/whitespace variants, ids offset by 1e6),
    // normalize, group by the 60-bit hash of the normalized text, keep
    // first. Every group must collapse to exactly its (original, variant)
    // pair — n_docs = 2 across the board — which the oracle verifies
    // per-group. Shuffle key is the 8-byte hash, never the document bytes
    // (same scale posture as para_dedup).
    Reg("dedup_normalized", Some(
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, '  ' || upper(text) || '!!' FROM documents
        |), n AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(
        |      trim(regexp_replace(regexp_replace(lower(text),
        |        '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))), 1, 15) AS BIGINT)
        |    AS norm_hash
        |  FROM u)
        |SELECT norm_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
        |FROM n GROUP BY 1""".stripMargin))(
      (s, dir) => {
        val d = Tables(s, dir).documents
        val variant = d.select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit("!!")).as("text"))
        d.select(col("doc_id"), col("text")).unionByName(variant)
          .select(col("doc_id"),
            TextOps.md5Hash60(TextOps.normalizeText(col("text")))
              .as("norm_hash"))
          .groupBy("norm_hash")
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_docs"))
      }),

    // Exact phrase search over the positional index ([[TextOps
    // .searchPhrase]]): consecutive-token match via the anchor-vote trick
    // (one explode + two shuffles, no positional self-joins). The oracle
    // replays position-by-position adjacency with a list scan, so the hash
    // compare certifies consecutiveness, counts, and the ranked top-k.
    Reg("text_search_phrase", Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |h AS (
        |  SELECT doc_id, CAST(len(list_filter(
        |      generate_series(1, len(w) - 1),
        |      i -> w[i] = 'table' AND w[i+1] = 'hash')) AS BIGINT) AS n_hits
        |  FROM t)
        |SELECT doc_id, n_hits FROM h WHERE n_hits > 0
        |ORDER BY n_hits DESC, doc_id LIMIT 20""".stripMargin))(
      (s, dir) => TextOps.searchPhrase(Tables(s, dir).documents,
        Seq("table", "hash"), k = 20)),

    // Deterministic global training order ([[Sampling.trainOrder]]): dense
    // 1-based positions in md5-of-id order WITHOUT a global sort — the
    // hex-prefix shards the order (sorting by (prefix, hash) IS sorting by
    // hash), per-shard ranks run 256-way parallel, shard offsets are a
    // prefix sum over the 256-row count table. The oracle replays the
    // SAME order with one global window, so the hash compare proves the
    // sharded construction equals the total order.
    Reg("train_order", Some(
      """SELECT doc_id, CAST(row_number() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
        |FROM documents""".stripMargin))(
      (s, dir) => Sampling.trainOrder(Tables(s, dir).documents, "doc_id"))
,
    // Incremental exact dedup (the daily-crawl shape): corpus = src0-9,
    // incoming batch = src10-19 PLUS 25 planted resubmissions of corpus
    // docs under fresh ids (doc_id+2e6) — the batch survivors must be
    // exactly the 250 genuinely-new docs. Anti-join on the 8-byte content
    // hash; document bytes never shuffle.
    Reg("dedup_incremental", Some(
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE CAST(substr(source, 4) AS INT) < 10
        |), batch AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE CAST(substr(source, 4) AS INT) >= 10
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents
        |  WHERE CAST(substr(source, 4) AS INT) < 10 AND doc_id % 10 = 0
        |), bh AS (
        |  SELECT CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)
        |    AS content_hash, MIN(doc_id) AS doc_id
        |  FROM batch GROUP BY 1)
        |SELECT doc_id, content_hash FROM bh
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM corpus c
        |  WHERE CAST('0x' || substr(md5(c.text), 1, 15) AS BIGINT)
        |    = bh.content_hash)""".stripMargin))(
      (s, dir) => {
        val d = Tables(s, dir).documents
          .withColumn("__srcnum", substring(col("source"), 4, 10).cast("int"))
        val corpus = d.where(col("__srcnum") < 10)
        val batch = d.where(col("__srcnum") >= 10)
          .select(col("doc_id"), col("text"))
          .unionByName(d.where(col("__srcnum") < 10 && col("doc_id") % 10 === 0)
            .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
        Dedup.incrementalDedup(corpus, batch, "doc_id", "text",
          hash = TextOps.md5Hash60)
      }),

    // Incremental NEAR-dup dedup — the daily-crawl shape at paraphrase
    // level: batch (odd doc ids) deduped against the standing corpus
    // (even ids) AND within itself (keep-first by id), candidates from a
    // cross-frame LSH band join, exact-Jaccard verified. The oracle is
    // the full brute force over both frontiers, so the hash proves the
    // banded cross join loses no pair at the oracle SFs.
    Reg("dedup_incr_near", Some(
      s"""WITH s AS (SELECT doc_id, $duckShingles AS sh FROM documents),
         |b AS (SELECT * FROM s WHERE doc_id % 2 = 1),
         |c AS (SELECT * FROM s WHERE doc_id % 2 = 0)
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |JOIN b ON d.doc_id = b.doc_id
         |WHERE NOT EXISTS (SELECT 1 FROM c
         |  WHERE CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE) /
         |    (len(b.sh) + len(c.sh) - len(list_intersect(b.sh, c.sh)))
         |    >= 0.7)
         |AND NOT EXISTS (SELECT 1 FROM b b2
         |  WHERE b2.doc_id < b.doc_id
         |  AND CAST(len(list_intersect(b.sh, b2.sh)) AS DOUBLE) /
         |    (len(b.sh) + len(b2.sh) - len(list_intersect(b.sh, b2.sh)))
         |    >= 0.7)""".stripMargin))(
      (s, dir) => {
        val d = Tables(s, dir).documents
        Dedup.incrementalNearDedup(
          d.where(col("doc_id") % 2 === 0), d.where(col("doc_id") % 2 === 1),
          "doc_id", "text", threshold = 0.7)
          .select("doc_id", "lang", "source")
      }),

    // The PRODUCTION shape of the same operator: the corpus band + shingle
    // tables are PERSISTED once (the ingest-time write, staged via Sinks
    // and keyed on the corpus file's identity so a regenerated corpus
    // restages) and each batch joins against the read-back index — corpus
    // TEXT is never re-scanned (PlanSpec pins this). Same semantics, same
    // brute-force oracle as dedup_incr_near.
    Reg("dedup_incr_near_persisted", Some(incrNearPersistedSql))(
      (s, dir) => {
        val idx = stagedNearDupIndex(s, dir)
        Dedup.incrementalNearDedupPersisted(
          s.read.parquet(s"$idx/corpus_bands.parquet"),
          s.read.parquet(s"$idx/corpus_shingles.parquet"),
          Tables(s, dir).documents.where(col("doc_id") % 2 === 1),
          "doc_id", "text", threshold = 0.7)
          .select("doc_id", "lang", "source")
      }),

    // ST: STREAMING near-dedup — the ingest path's streaming twin
    // ([[graft.ext.Streaming.nearDedupStream]]): the odd-doc stream is
    // filtered per micro-batch against the SAME persisted even-doc index
    // as dedup_incr_near_persisted, with each batch's band/shingle
    // contribution appended as durable, batchId-keyed state (overwrite =
    // replay-idempotent; the checkpoint-recovery spec drives a mid-stream
    // restart). Over the bounded AvailableNow source the result is the
    // batch sibling's, so the oracle is shared VERBATIM.
    Reg("stream_near_dedup", Some(incrNearPersistedSql))(
      (s, dir) => {
        val idx = stagedNearDupIndex(s, dir)
        val base = Stage.scratch("streamneardup", dir)
        graft.ext.Streaming.nearDedupStream(
          graft.ext.Streaming.readDocuments(s, dir)
            .where(col("doc_id") % 2 === 1),
          s.read.parquet(s"$idx/corpus_bands.parquet"),
          s.read.parquet(s"$idx/corpus_shingles.parquet"),
          s"$base/state", s"$base/out", s"$base/ckpt",
          "doc_id", "text", threshold = 0.7)
          .select("doc_id", "lang", "source")
      }),

    // Trained-model scoring at corpus scale ([[TextOps.scoreLinear]]):
    // logistic quality classifier over the standard cheap features
    // (token count, stopword ratio, mean token length), weights as plan
    // literals — pure projection, no UDF, no shuffle. Oracle replays
    // feature extraction AND the sigmoid.
    Reg("quality_score_lr", Some(
      s"""SELECT doc_id,
         |  ROUND(1.0 / (1.0 + exp(-(
         |    -1.0
         |    + 0.02  * CAST(len(string_split(text,' ')) AS BIGINT)
         |    + (-3.0) * (CAST(len(list_filter(string_split(text,' '),
         |                 w -> w IN $duckStop)) AS DOUBLE)
         |               / len(string_split(text,' ')))
         |    + 0.5   * (CAST(length(replace(text,' ','')) AS DOUBLE)
         |               / len(string_split(text,' ')))))), 6) AS p_good
         |FROM documents""".stripMargin))(
      (s, dir) => {
        val feats = TextOps.qualityColumns(Tables(s, dir).documents, "text")
        feats.select(col("doc_id"), TextOps.scoreLinear(Seq(
          col("n_tokens").cast("double") -> 0.02,
          col("stop_ratio") -> -3.0,
          col("mean_tok_len") -> 0.5), bias = -1.0).as("p_good"))
      }),

    // Temperature-based language rebalancing ([[Sampling.temperatureMix]],
    // tau = 0.7 over the skewed lang distribution: en 218 … fr 64 at
    // sf0.01): the smallest lang keeps rate 1, en is cut to its
    // tau-flattened share. The oracle replays count → rate → content-hash
    // filter, so the hash match proves the derived rates AND the kept set.
    Reg("mix_temperature", Some(
      """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
        |r AS (
        |  SELECT lang, ROUND(pow(CAST(n AS DOUBLE)
        |    / (SELECT MIN(n) FROM c), 0.7 - 1.0), 6) AS rate
        |  FROM c)
        |SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.lang
        |WHERE CAST(CAST('0x' || substr(md5(d.text), 1, 13) AS BIGINT)
        |        AS DOUBLE) / 4503599627370496.0 < r.rate""".stripMargin))(
      (s, dir) => Sampling.temperatureMix(Tables(s, dir).documents,
          col("text"), col("lang"), tau = 0.7)
        .select("doc_id", "lang")),

    // PII-span inventory ([[TextOps.piiSpanCounts]] — the REPORT side of
    // redact, same patterns by construction): the corpus is PII-free, so
    // the query plants deterministic emails / long account numbers by
    // doc_id residue on BOTH engines; the hash match proves span counting
    // and the routing flag.
    Reg("text_pii_spans", Some(
      """WITH m AS (
        |  SELECT doc_id, CASE
        |    WHEN doc_id % 4 = 0
        |      THEN text || ' user' || doc_id || '@mail.example.com ok'
        |    WHEN doc_id % 4 = 1
        |      THEN text || ' acct 00' || doc_id || '1234 end'
        |    ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_email,
        |  CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS BIGINT)
        |    AS n_longnum,
        |  (len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) > 0
        |   OR len(regexp_extract_all(text, '[0-9]{6,}')) > 0)
        |    AS needs_redaction
        |FROM m""".stripMargin))(
      (s, dir) => {
        val id = col("doc_id").cast("string")
        val planted = Tables(s, dir).documents.select(col("doc_id"),
          when(col("doc_id") % 4 === 0,
            concat(col("text"), lit(" user"), id, lit("@mail.example.com ok")))
          .when(col("doc_id") % 4 === 1,
            concat(col("text"), lit(" acct 00"), id, lit("1234 end")))
          .otherwise(col("text")).as("text"))
        TextOps.piiSpanCounts(planted, "doc_id")
      }),

    // Keyword-in-context ([[TextOps.keywordInContext]]): every 'spark'
    // occurrence with ±3 tokens of context — the snippet step after
    // ranked search, and the targeted-curation primitive. The oracle
    // replays position matching and the clamped slice.
    Reg("text_kwic", Some(
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), toks AS (
        |  SELECT doc_id, w, unnest(w) AS token,
        |    unnest(generate_series(1, len(w))) AS p
        |  FROM t)
        |SELECT doc_id, CAST(p - 1 AS BIGINT) AS pos,
        |  array_to_string(list_slice(w, greatest(p - 3, 1),
        |                             least(p + 3, len(w))), ' ') AS ctx
        |FROM toks WHERE token = 'spark'""".stripMargin))(
      (s, dir) => TextOps.keywordInContext(Tables(s, dir).documents,
        "spark", window = 3))
  )
}
