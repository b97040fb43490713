package graft.ext
import graft.Ckpt.CkptOps

import org.apache.spark.sql.{Column, DataFrame, GraftColumn, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.BpeMergeAll

/** Distributed BPE tokenizer TRAINING (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units" — the public
  * byte-pair-encoding recipe): learn `merges` merge rules from a corpus.
  *
  * The scale move is the classic one: the corpus collapses to its
  * WEIGHTED WORD VOCABULARY in a single scan (BPE statistics are
  * word-internal, so identical words are one row with a count), and every
  * merge round thereafter runs over the vocab table only — at 100 TB the
  * corpus is read once and the per-round cost is |distinct words|, not
  * corpus size. Each round is: one map-side pair extraction + one
  * pair-count shuffle + a LIMIT-1 argmax (the only collect — one row,
  * k-bounded) + a map-only greedy re-segmentation via the native
  * `bpe_merge_all` kernel (no UDF, no shuffle). `localCheckpoint` every
  * few rounds truncates the lineage, the kmeans/pagerank pattern.
  *
  * Greedy-leftmost merge semantics: the fold appends each symbol unless
  * the accumulator's last element is `lhs` and the current is `rhs`, in
  * which case both are replaced by their concatenation. A token produced
  * by a merge is strictly longer than `lhs`, so it can never re-match as
  * `lhs` in the same round — the fold IS leftmost-greedy, and the DuckDB
  * oracle replays the identical semantics relationally (run-parity over
  * match islands). Ties in pair counts break on (count DESC, lhs, rhs)
  * binary string order in both engines.
  *
  * Reference scope: the reference engine (etl_io.py) has no tokenizer
  * surface; this is part of the LLM-training-data layer (SURVEY §2.11). */
object Bpe {

  /** Learn `merges` BPE merge rules from `textCol` (space-tokenized words,
    * character-initial symbols). Returns (merge_rank, lhs, rhs, n) — the
    * ordered merge table, n = corpus-weighted pair count. Stops early if
    * the vocabulary runs out of adjacent pairs. */
  def train(spark: SparkSession, df: DataFrame, textCol: String,
            merges: Int): DataFrame = {
    val vocab = df
      .select(explode(split(col(textCol), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
    var cur = vocab
      .withColumn("syms", charSymsCol(col("word")))
      .ckpt()
    var lastCkpt = cur
    var pending = 0
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= merges && !exhausted) {
      val top = cur
        // zip_with over the two shifted slices: single-symbol words yield
        // an empty pair array (sequence(1, size-1) would DESCEND for them)
        .select(col("freq"), explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((round.toLong, a, b, n))
        // rule application stays LAZY (round 14): a per-round eager
        // checkpoint cost one materialization job per rule — half the
        // loop's job count for a frame the next round's argmax scans
        // anyway. The argmax job re-runs at most ckptEvery-1 pending
        // native merges over the last checkpoint (map work on the vocab),
        // and a checkpoint every ckptEvery rules keeps plan depth and
        // re-execution bounded.
        cur = applyMergesCol(cur, Seq((a, b)))
        pending += 1
        if (pending == ckptEvery) {
          val next = cur.ckpt()
          lastCkpt.unpersist()
          lastCkpt = next
          cur = next
          pending = 0
        }
        round += 1
      }
    }
    lastCkpt.unpersist()
    import spark.implicits._
    learned.toSeq.toDF("merge_rank", "lhs", "rhs", "n")
  }

  /** Checkpoint cadence of the training loop's lazy rule chain. */
  private val ckptEvery = 4

  /** Character-initial symbol split: char k-grams at k = 1. */
  private def charSymsCol(word: Column): Column = TextOps.kgramsCol(word, 1)

  /** Merge rules in rank order over the `syms` column as ONE native
    * expression ([[graft.functions.BpeMergeAll]], greedy-leftmost per
    * rule — pinned against the sequential fold by SketchKernelSpec). */
  private def applyMergesCol(vocab: DataFrame,
                             merges: Seq[(String, String)]): DataFrame =
    if (merges.isEmpty) vocab
    else vocab.withColumn("syms", GraftColumn(BpeMergeAll(
      GraftColumn.expr(col("syms")), merges.map(_._1), merges.map(_._2))))

  /** Apply a learned merge table: tokenize `textCol` with `merges` in
    * rank order. The scale shape mirrors [[train]]: merges are applied to
    * the DISTINCT-WORD table (all rules in one map-only native
    * expression), then documents join their words to the encoded vocab
    * and reassemble in order — the corpus pays one explode + one
    * equality join + one per-doc groupBy, never a per-rule pass.
    * Returns (idCol, toks) with tokens
    * space-joined in document order (empty words dropped; documents with
    * no non-empty words are absent, matching the vocab inner join). */
  def encode(df: DataFrame, idCol: String, textCol: String,
             merges: Seq[(String, String)]): DataFrame = {
    val vocab = applyMergesCol(df
      .select(explode(split(col(textCol), " ")).as("word"))
      .where(col("word") =!= "").distinct()
      .withColumn("syms", charSymsCol(col("word"))), merges)
    val wt = vocab.select(col("word"), array_join(col("syms"), " ").as("wtoks"))
    df.select(col(idCol),
        posexplode(split(col(textCol), " ")).as(Seq("wpos", "word")))
      .where(col("word") =!= "")
      .join(wt, "word")
      .groupBy(idCol)
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("wpos"), col("wtoks")))),
        x => x.getField("wtoks")), " ").as("toks"))
  }

  /** The token VOCABULARY induced by a merge table over this corpus —
    * the artifact a trained tokenizer ships: every post-merge symbol with
    * its corpus-weighted occurrence count. Same vocab-only cost shape as
    * [[encode]]; the corpus is scanned once for word counts. */
  def vocabulary(df: DataFrame, textCol: String,
                 merges: Seq[(String, String)]): DataFrame =
    applyMergesCol(df
      .select(explode(split(col(textCol), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("syms", charSymsCol(col("word"))), merges)
      .select(col("freq"), explode(col("syms")).as("token"))
      .groupBy("token").agg(sum(col("freq")).as("n"))

  /** DuckDB replay of [[train]]: `merges` unrolled rounds, each four
    * MATERIALIZED CTEs (pair argmax with the same tiebreak; greedy-
    * leftmost via run-parity over match islands; consumed-row deletion;
    * position renumber). MATERIALIZED is load-bearing — each round
    * references its predecessor three times, so inlined CTEs would expand
    * 3^rounds. */
  def oracleSql(table: String, textCol: String, merges: Int): String =
    "WITH " + chainCtes(table, textCol, merges) +
      "\nSELECT * FROM (\n" + (1 to merges).map(j =>
      s"SELECT CAST($j AS BIGINT) AS merge_rank, a AS lhs, b AS rhs, n FROM p$j")
      .mkString("\nUNION ALL ") + ") ORDER BY merge_rank"

  /** The w0..r`merges` training chain as composable CTE definitions (no
    * leading WITH). */
  def chainCtes(table: String, textCol: String, merges: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""w0 AS MATERIALIZED (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
         |    SELECT unnest(string_split($textCol, ' ')) AS word
         |    FROM $table)
         |  WHERE word <> '' GROUP BY word
         |), r0 AS MATERIALIZED (
         |  SELECT word, freq, CAST(i AS BIGINT) AS pos,
         |    substr(word, CAST(i AS INT), 1) AS sym
         |  FROM w0, unnest(generate_series(1, length(word))) AS t(i)
         |)""".stripMargin)
    for (j <- 1 to merges) {
      val p = j - 1
      sb.append(
        s""", p$j AS MATERIALIZED (
           |  SELECT a, b, n FROM (
           |    SELECT sym AS a, nxt AS b, CAST(SUM(freq) AS BIGINT) AS n FROM (
           |      SELECT word, freq, sym,
           |        lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
           |      FROM r$p) WHERE nxt IS NOT NULL GROUP BY sym, nxt)
           |  ORDER BY n DESC, a, b LIMIT 1
           |), m$j AS MATERIALIZED (
           |  SELECT word, pos FROM (
           |    SELECT word, pos, row_number() OVER (PARTITION BY word, isl ORDER BY pos) AS rk
           |    FROM (
           |      SELECT word, pos,
           |        pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS isl
           |      FROM (
           |        SELECT t.word, t.pos FROM (
           |          SELECT word, pos, sym,
           |            lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
           |          FROM r$p) t, p$j
           |        WHERE t.sym = p$j.a AND t.nxt = p$j.b)))
           |  WHERE rk % 2 = 1
           |), r$j AS MATERIALIZED (
           |  SELECT word, freq,
           |    CAST(row_number() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos, sym
           |  FROM (
           |    SELECT r.word, r.freq, r.pos,
           |      CASE WHEN m.pos IS NOT NULL THEN (SELECT a || b FROM p$j) ELSE r.sym END AS sym
           |    FROM r$p r
           |    LEFT JOIN m$j m ON r.word = m.word AND r.pos = m.pos
           |    LEFT JOIN m$j d ON r.word = d.word AND r.pos = d.pos + 1
           |    WHERE d.pos IS NULL)
           |)""".stripMargin)
    }
    sb.toString
  }

  /** DuckDB replay of [[train]] + [[vocabulary]]: token counts off the
    * final round's segmentation. */
  def oracleVocabSql(table: String, textCol: String, merges: Int): String =
    "WITH " + chainCtes(table, textCol, merges) +
      s"""
         |SELECT sym AS token, CAST(SUM(freq) AS BIGINT) AS n
         |FROM r$merges GROUP BY sym""".stripMargin

  /** Encode tail (wt + dw CTE definitions, no leading comma): joins
    * `table`'s words to the final segmentation r`merges`. */
  def encodeTailCtes(table: String, idCol: String, textCol: String,
                     merges: Int): String =
    s"""wt AS MATERIALIZED (
       |  SELECT word, string_agg(sym, ' ' ORDER BY pos) AS wtoks
       |  FROM r$merges GROUP BY word
       |), dw AS (
       |  SELECT $idCol, i AS wpos, string_split($textCol, ' ')[i] AS word
       |  FROM $table,
       |    unnest(generate_series(1, len(string_split($textCol, ' ')))) AS t(i)
       |)""".stripMargin

  /** DuckDB replay of [[train]] + [[encode]] end-to-end: the final round's
    * segmentation r{merges} IS the encoded vocabulary; documents join
    * their words to it and reassemble ordered. */
  def oracleEncodeSql(table: String, idCol: String, textCol: String,
                      merges: Int): String =
    "WITH " + chainCtes(table, textCol, merges) + ", " +
      encodeTailCtes(table, idCol, textCol, merges) +
      s"""
         |SELECT $idCol, string_agg(wtoks, ' ' ORDER BY wpos) AS toks
         |FROM dw JOIN wt USING (word)
         |GROUP BY $idCol""".stripMargin
}
