package graft.ext
import graft.Ckpt
import graft.Ckpt.CkptOps

import org.apache.spark.sql.{Column, DataFrame, GraftColumn}
import org.apache.spark.sql.functions._

import graft.functions.{MinHashBands, MinHashSigs, SimHashTokens}
import graft.ops.Blocking

import TextOps.{jaccard, shingles}

/** Deduplication operators for the LLM-data-pipeline layer (SURVEY.md
  * §2.11): exact (content hash), near-duplicate via banded MinHash + exact
  * Jaccard verification, and SimHash.
  *
  * Scale posture: every path is bucketed — candidates come from equality
  * joins on band signatures (shuffle hash-partitioned on the band key),
  * NEVER from an all-pairs cross join. The verification join touches only
  * candidate pairs. At 100 TB the cost is O(n · numHashes) map work plus
  * joins whose fan-in is the bucket size.
  */
object Dedup {

  /** Exact dedup groups: one row per distinct content hash with the kept
    * (minimum) id and the copy count. sha2-256 collisions are negligible. */
  def exactDedupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** Exact dedup: keep one arbitrary row per distinct content. */
  def dropExactDups(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__h", sha2(col(textCol), 256))
      .dropDuplicates("__h")
      .drop("__h")

  /** Incremental exact dedup: the daily-crawl shape — dedup a NEW batch
    * both within itself (keep-first by id) and against the standing corpus
    * (drop anything whose content already exists), without ever re-scanning
    * corpus content twice or shuffling document bytes.
    *
    * Returns the surviving batch rows as (doc_id, content_hash). Both
    * sides reduce to their 8-byte content hashes first; the cross-corpus
    * check is a LEFT ANTI join on the hash — at 100 TB the corpus side is
    * the persisted hash column (or a bloom pre-filter feeding this exact
    * anti-join), never the text. Hash is parameterized like the other
    * dedup ops: [[TextOps.md5Hash60]] gives the engine-neutral oracle
    * form; xxhash64 is the cheaper production default. */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame, idCol: String,
                       textCol: String,
                       hash: Column => Column = xxhash64(_)): DataFrame = {
    val batchKept = batch
      .select(col(idCol), hash(col(textCol)).as("content_hash"))
      .groupBy("content_hash").agg(min(col(idCol)).as(idCol))
    val corpusHashes = corpus
      .select(hash(col(textCol)).as("content_hash")).distinct()
    batchKept.join(corpusHashes, Seq("content_hash"), "left_anti")
      .select(col(idCol), col("content_hash"))
  }

  /** The corpus side of the cross-frame candidate join: band rows, with
    * over-cap buckets reduced to their minimum-id representative (see
    * [[incrementalNearDedup]]). Lazy — exposed for plan-contract tests. */
  private[graft] def corpusBandSide(cBands: DataFrame, maxBucket: Int): DataFrame =
    Blocking.sized(cBands, bandKey, "id", Nil)
      .where(!Blocking.spoke("id", maxBucket))
      .select(col("band"), col("band_hash"), col("id").as("c_id"))

  /** The block key of a MinHash band table. */
  private val bandKey = Seq("band", "band_hash")

  /** Cross-frame LSH candidates: equality join on (band, band_hash) —
    * the shape that keeps batch-vs-corpus candidacy bucket-bounded. Lazy. */
  private[graft] def crossBandCandidates(bBands: DataFrame, cSide: DataFrame): DataFrame =
    bBands.select(col("band"), col("band_hash"), col("id").as("b_id"))
      .join(cSide, Seq("band", "band_hash"))
      .select("b_id", "c_id").distinct()

  /** Incremental NEAR-dup dedup — [[incrementalDedup]]'s daily-crawl shape
    * at paraphrase level: drop batch docs that are near-duplicates
    * (shingle Jaccard ≥ `threshold`) of the standing corpus, and dedup the
    * batch within itself with the keep-first-by-id policy.
    *
    * Candidates come from an LSH band join BETWEEN the two frames (batch
    * bands ⋈ corpus bands on (band, band_hash)), so the corpus is never
    * all-paired against the batch; only candidates pay the exact-Jaccard
    * verify. At 100 TB the corpus side is its PERSISTED band table —
    * computed once at ingest, reused every batch — never re-derived text;
    * this method recomputes it only because it takes raw frames. Corpus
    * buckets above `maxBucket` contribute only their minimum-id member as
    * the join partner (an over-full bucket is a boilerplate cluster, so
    * the representative IS the boilerplate test) — bounding cross fan-out
    * at |batch bucket| instead of |batch|×|corpus| per bucket.
    *
    * Returns the surviving batch rows. */
  def incrementalNearDedup(corpus: DataFrame, batch: DataFrame,
                           idCol: String, textCol: String,
                           threshold: Double = 0.7, numHashes: Int = 64,
                           bands: Int = 16, shingleK: Int = 3,
                           maxBucket: Int = 10000): DataFrame = {
    val (cBands, cSets) = corpusNearDupIndex(corpus, idCol, textCol,
      numHashes, bands, shingleK)
    incrementalNearDedupPersisted(cBands, cSets, batch, idCol, textCol,
      threshold, numHashes, bands, shingleK, maxBucket)
  }

  /** The per-corpus dedup index an ingest pipeline persists ONCE (via
    * [[graft.io.Sinks.parquet]]) so that per-batch near-dedup never
    * re-reads corpus text: (band table `(id, band, band_hash)`,
    * shingle-set table `(id, sh)`). Band hashes are deterministic
    * (seeded xxhash64 chains), so an index written at ingest time joins
    * correctly against batch bands computed in any later job. */
  def corpusNearDupIndex(corpus: DataFrame, idCol: String, textCol: String,
                         numHashes: Int = 64, bands: Int = 16,
                         shingleK: Int = 3): (DataFrame, DataFrame) =
    (minhashBands(corpus, idCol, textCol, numHashes, bands, shingleK),
      corpus.select(col(idCol).as("id"),
        shingles(col(textCol), shingleK).as("sh")))

  /** [[incrementalNearDedup]] against a PERSISTED corpus index — the
    * production daily-crawl shape: `corpusBands`/`corpusShingles` are the
    * tables [[corpusNearDupIndex]] wrote at ingest, read back from
    * parquet, so this method never touches corpus TEXT at all (the plan
    * contract a 100 TB standing corpus requires — re-shingling it per
    * batch would re-scan the full corpus daily). Candidate generation,
    * over-cap star-collapse, exact-Jaccard verification, and the
    * within-batch keep-first policy are identical to the raw-frame form —
    * both are oracled by the same brute-force replay. */
  def incrementalNearDedupPersisted(corpusBands: DataFrame,
                                    corpusShingles: DataFrame,
                                    batch: DataFrame,
                                    idCol: String, textCol: String,
                                    threshold: Double = 0.7, numHashes: Int = 64,
                                    bands: Int = 16, shingleK: Int = 3,
                                    maxBucket: Int = 10000): DataFrame = {
    // ONE batch shingle pass feeds everything (round-10 reshape): the
    // persisted set frame derives the cross-corpus bands, the exact
    // cross verify's batch side, AND the whole within-batch nearDupPairs
    // (candidates + both verify sides) — previously the batch text was
    // re-split three times.
    val bSets = batch.select(col(idCol).as("id"),
        shingles(col(textCol), shingleK).as("sh"))
      .persist()
    val bBands = minhashBandsFromSets(bSets, numHashes, bands).persist()
    val out = incrementalNearDedupFromSets(corpusBands, corpusShingles,
      batch, bSets, bBands, idCol, threshold, maxBucket)
    // every interior consumer checkpoints eagerly, so both caches can
    // release before the caller materializes the (lazy) anti-joins
    bBands.unpersist()
    bSets.unpersist()
    out
  }

  /** [[incrementalNearDedupPersisted]] over CALLER-PERSISTED batch
    * set/band tables — the shared-pass entry point (round 15) for
    * compositions that also need the same tables for index appends
    * ([[graft.ext.Streaming.nearDedupStream]]) or for the delta pair
    * list ([[ingestBatch]]); previously each step re-shingled and
    * re-banded the batch text. Bit-identical output (band/set rows are
    * per-doc deterministic). */
  private[graft] def incrementalNearDedupFromSets(
      corpusBands: DataFrame, corpusShingles: DataFrame, batch: DataFrame,
      bSets: DataFrame, bBands: DataFrame, idCol: String,
      threshold: Double, maxBucket: Int): DataFrame = {
    val hitCorpus = crossPairs(corpusBands, corpusShingles, bSets, bBands,
        threshold, maxBucket)
      .select(col("b_id").as(idCol)).distinct().ckpt()
    val withinPairs = nearDupPairsFromBands(bSets, bBands, threshold,
      maxBucket)
    batch
      .join(hitCorpus, Seq(idCol), "left_anti")
      .join(withinPairs.select(col("b_id").as(idCol)), Seq(idCol), "left_anti")
  }

  /** The DELTA PAIR LIST a batch contributes against a standing corpus —
    * verified (a_id, b_id, jaccard) pairs, a_id from the corpus index or
    * the batch, b_id always from the batch: the input
    * [[incrementalComponents]] needs to maintain dedup group labels
    * without re-running the closure. Same candidate generation as
    * [[incrementalNearDedupPersisted]] (band-equality joins against the
    * persisted index + within-batch LSH; corpus TEXT is never read), same
    * exact-Jaccard verification, so base pairs ∪ this delta is exactly
    * the full corpus' verified pair set — which is what makes the
    * incremental closure hash-identical to a full recompute. */
  def incrementalNearDupPairs(corpusBands: DataFrame,
                              corpusShingles: DataFrame,
                              batch: DataFrame,
                              idCol: String, textCol: String,
                              threshold: Double = 0.7, numHashes: Int = 64,
                              bands: Int = 16, shingleK: Int = 3,
                              maxBucket: Int = 10000): DataFrame = {
    val bSets = batch.select(col(idCol).as("id"),
        shingles(col(textCol), shingleK).as("sh"))
      .persist()
    val bBands = minhashBandsFromSets(bSets, numHashes, bands).persist()
    val cross = crossPairs(corpusBands, corpusShingles, bSets, bBands,
      threshold, maxBucket)
    val within = nearDupPairsFromBands(bSets, bBands, threshold, maxBucket)
    bBands.unpersist()
    val out = cross.unionAll(within).ckpt()
    bSets.unpersist()
    out
  }

  /** Verified batch-vs-corpus pairs, lazy `(a_id, b_id, jaccard)`: a_id
    * from the corpus index, b_id from the caller-persisted batch set/band
    * tables. The cross candidates checkpoint eagerly; then the corpus
    * shingle table is semi-filtered to candidate ids FIRST (the id list
    * broadcasts), so the array-heavy store is scanned map-side, never
    * shuffled — only touched rows enter the exact-Jaccard join. */
  private def crossPairs(corpusBands: DataFrame, corpusShingles: DataFrame,
                         bSets: DataFrame, bBands: DataFrame,
                         threshold: Double, maxBucket: Int): DataFrame = {
    val crossCands =
      crossBandCandidates(bBands, corpusBandSide(corpusBands, maxBucket))
        .ckpt()
    val cTouched = corpusShingles
      .join(broadcast(crossCands.select(col("c_id").as("id")).distinct()),
        Seq("id"), "left_semi")
    crossCands
      .join(bSets.select(col("id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
      .join(cTouched.select(col("id").as("c_id"), col("sh").as("c_sh")), Seq("c_id"))
      .withColumn("jaccard", jaccard(col("b_sh"), col("c_sh")))
      .where(col("jaccard") >= threshold)
      .select(col("c_id").as("a_id"), col("b_id"), col("jaccard"))
  }

  /** MinHash signature table: (id, h0..h{numHashes-1}) — slot i is the
    * minimum over the doc's shingles s of xxhash64(s, i). Docs with no
    * shingles are absent. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, shingleK: Int = 3): DataFrame =
    minhashSignaturesFromSets(
      df.select(col(idCol).as("id"), shingles(col(textCol), shingleK).as("sh")),
      numHashes)

  /** [[minhashSignatures]] over a pre-built `(id, sh)` shingle-set frame —
    * the entry point for pipelines that shingle once and feed several
    * consumers (candidate generation AND exact verification, or an
    * ensemble's multiple detectors) from one persisted frame instead of
    * re-splitting the corpus per consumer. */
  def minhashSignaturesFromSets(sets: DataFrame,
                                numHashes: Int = 64): DataFrame =
    // native per-row kernel (round 14, guide §2.4): the signature is a
    // pure per-document fold, so an explode→groupBy formulation pays a
    // full shuffle of one row PER SHINGLE OCCURRENCE (corpus-sized at
    // 100 TB) and re-hashes each shingle's bytes once per slot
    // (`xxhash64(s, i)` × 64). The kernel computes bit-identical slot
    // minima map-side — zero shuffles, one string hash per shingle.
    // Empty shingle sets yield null → filtered (absent id).
    sets.select(col("id"),
        GraftColumn(MinHashSigs(GraftColumn.expr(col("sh")), numHashes))
          .as("__sig"))
      .where(col("__sig").isNotNull)
      .select(col("id") +: (0 until numHashes)
        .map(i => element_at(col("__sig"), i + 1).as(s"h$i")): _*)

  /** Banded signature rows: (id, band, band_hash) — one row per band, where
    * band_hash fingerprints `rowsPerBand` consecutive signature slots.
    * Docs sharing ANY band hash are near-dup candidates (standard LSH
    * banding: P(candidate) = 1-(1-J^r)^b). */
  def minhashBands(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 64, bands: Int = 16,
                   shingleK: Int = 3): DataFrame =
    minhashBandsFromSets(
      df.select(col(idCol).as("id"), shingles(col(textCol), shingleK).as("sh")),
      numHashes, bands)

  /** [[minhashBands]] over a pre-built `(id, sh)` shingle-set frame
    * (see [[minhashSignaturesFromSets]]). */
  def minhashBandsFromSets(sets: DataFrame, numHashes: Int = 64,
                           bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, s"numHashes=$numHashes not divisible by bands=$bands")
    // native per-row kernel (round 14): signature + banding in one
    // map-side fold — no explode→groupBy over shingle occurrences before
    // the first band join; band hash values are bit-identical to the
    // xxhash64 chain (same seeds), so persisted band indexes from earlier
    // stagings still join correctly. posexplode of the null (empty-set)
    // result emits no rows.
    sets.select(col("id"),
      posexplode(GraftColumn(
        MinHashBands(GraftColumn.expr(col("sh")), numHashes, bands)))
        .as(Seq("band", "band_hash")))
  }

  /** [[dropNearDupGroups]] with a QUALITY keep policy: keep the
    * best-`score` member of each duplicate group (ties → smaller id)
    * instead of the minimum id — the production choice when duplicates
    * differ in quality (truncation, boilerplate wrappers, OCR noise keep
    * the same fingerprint but not the same usefulness). `score` is any
    * deterministic Column over `df`'s rows. Cost shape is identical to
    * the min-id policy: one CC over the PAIR list, one pair-sized
    * aggregate (argmax via a struct max — no window over the group key,
    * so a mega-group never serializes through one task), one semi join
    * back to the corpus. */
  def dropNearDupGroupsKeepBest(df: DataFrame, pairs: DataFrame,
                                idCol: String, score: Column): DataFrame = {
    val comp = connectedComponents(pairs).withColumnRenamed("id", idCol)
    val grouped = df.select(col(idCol), score.as("__score"))
      .join(comp, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("__comp"), col("__score"))
    val best = grouped.groupBy("__comp")
      .agg(max(struct(col("__score").as("s"), (-col(idCol)).as("nid"))).as("__b"))
      .select((-col("__b.nid")).as(idCol))
    df.join(best, Seq(idCol), "left_semi")
  }

  /** Candidate pairs from LSH buckets: equality self-join on (band,
    * band_hash), ordered ids, distinct. Never all-pairs: buckets above
    * `maxBucket` collapse to a STAR around the bucket's minimum id, k-1
    * pairs instead of k(k-1)/2 ([[graft.ops.Blocking]]). Every member stays
    * connected and downstream exact verification still sees each pair;
    * the trade is recall WITHIN an over-cap bucket for members whose only
    * qualifying partner is a non-representative — acceptable exactly
    * because such buckets are boilerplate clusters. */
  def nearDupCandidates(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, bands: Int = 16,
                        shingleK: Int = 3, maxBucket: Int = 10000): DataFrame =
    nearDupCandidatesFromSets(
      df.select(col(idCol).as("id"), shingles(col(textCol), shingleK).as("sh")),
      numHashes, bands, maxBucket)

  /** [[nearDupCandidates]] over a pre-built `(id, sh)` shingle-set frame
    * (see [[minhashSignaturesFromSets]] for why the split matters). */
  def nearDupCandidatesFromSets(sets: DataFrame, numHashes: Int = 64,
                                bands: Int = 16,
                                maxBucket: Int = 10000): DataFrame = {
    // persist: both self-join sides read the bands; without it the whole
    // shingle→hash→min pipeline runs twice (the broadcast side cannot
    // reuse the other side's exchange). The candidate set — far smaller
    // than the bands — is eagerly localCheckpoint'ed so the bands cache can
    // be released immediately instead of living for the session (checkpoint
    // blocks are reference-tracked and GC-cleaned by the ContextCleaner).
    val bands0 = minhashBandsFromSets(sets, numHashes, bands)
      .persist()
    val cands = nearDupCandidatesFromBands(bands0, maxBucket)
    bands0.unpersist()
    cands
  }

  /** [[nearDupCandidatesFromSets]] over a pre-built, CALLER-PERSISTED
    * band table `(id, band, band_hash)` — the shared-pass entry point for
    * compositions that band the batch once and feed several consumers
    * (round 15: [[ingestBatch]]'s three band uses collapse to one).
    * Restricting a band table by id IS re-banding the restricted set —
    * band rows are per-doc deterministic — so callers may semi-join the
    * shared table instead of recomputing it, with bit-identical output. */
  private[graft] def nearDupCandidatesFromBands(bands0: DataFrame,
                                                maxBucket: Int): DataFrame = {
    // the sized frame is persisted: the FIRST consumer materializes
    // it as a side effect of its own pass (no standalone count — measured
    // +30% on the heavy dedup queries), the other two read the cache.
    // Once b is materialized bands0 is never read again, so under memory
    // pressure its blocks are evictable for free — the 2x-cache window is
    // soft, not a hard peak.
    val b = Blocking.sized(bands0, bandKey, "id", Nil).persist()
    val cands = Blocking.pairs(b, bandKey, "id", Nil, maxBucket)
      .distinct()
      .ckpt()
    b.unpersist()
    cands
  }

  /** [[nearDupPairsFromSets]] over caller-persisted set AND band frames —
    * the shared-pass verify path (see [[nearDupCandidatesFromBands]]). */
  private[graft] def nearDupPairsFromBands(sets: DataFrame, bands0: DataFrame,
                                           threshold: Double,
                                           maxBucket: Int = 10000): DataFrame =
    verifiedWithin(nearDupCandidatesFromBands(bands0, maxBucket), sets,
      threshold)

  /** Candidate pairs `(a_id, b_id)` whose exact shingle Jaccard over the
    * `(id, sh)` frame `sets` is ≥ `threshold`, as `(a_id, b_id, jaccard)`;
    * eager (localCheckpointed). */
  private def verifiedWithin(cands: DataFrame, sets: DataFrame,
                             threshold: Double): DataFrame =
    cands
      .join(sets.select(col("id").as("a_id"), col("sh").as("a_sh")), Seq("a_id"))
      .join(sets.select(col("id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
      .withColumn("jaccard", jaccard(col("a_sh"), col("b_sh")))
      .where(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
      .ckpt()

  /** Near-duplicate pairs: LSH candidates verified with EXACT shingle
    * Jaccard ≥ threshold. With 64 hashes / 16 bands, a true pair at J=0.7
    * is missed with probability (1-0.7⁴)⁸·⁻¹⁶ ≈ 2e-8 — the verified output
    * equals brute-force exact Jaccard for all practical purposes, at
    * bucket-join cost. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.7, numHashes: Int = 64,
                   bands: Int = 16, shingleK: Int = 3,
                   maxBucket: Int = 10000): DataFrame = {
    // persisted: candidate generation AND both verification join sides
    // read this frame — without the persist each consumer re-runs
    // shingles() over the full corpus (the same hygiene ngramJaccardPairs
    // applies); released once the (small) verified pair set is
    // materialized
    val sets = df.select(col(idCol).as("id"),
        shingles(col(textCol), shingleK).as("sh"))
      .persist()
    val pairs = nearDupPairsFromSets(sets, threshold, numHashes, bands,
      maxBucket)
    sets.unpersist()
    pairs
  }

  /** [[nearDupPairs]] over a pre-built `(id, sh)` shingle-set frame that
    * the CALLER persists (it is read by candidate generation and by both
    * exact-verification join sides): the shared-tokenization entry point
    * an ensemble uses so its detectors split the corpus once. Returns
    * eagerly (the pair set localCheckpoints), so the caller may unpersist
    * `sets` as soon as every arm has been built. */
  def nearDupPairsFromSets(sets: DataFrame, threshold: Double = 0.7,
                           numHashes: Int = 64, bands: Int = 16,
                           maxBucket: Int = 10000): DataFrame =
    verifiedWithin(nearDupCandidatesFromSets(sets, numHashes, bands,
      maxBucket), sets, threshold)

  /** Character-n-gram Jaccard near-dup pairs within a blocking key: exact
    * set Jaccard over char k-grams, pairs restricted to equal `blockCol`
    * values (a language, a length bucket, an LSH bucket — anything that
    * bounds the per-block fan-out). The non-hashed member of the dedup
    * family: no signatures, no probability of a miss WITHIN a block; the
    * block choice is the recall/cost dial. At 100 TB use a blocking key
    * with bounded groups (or feed LSH candidates in as the block). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, k: Int = 5,
                        threshold: Double = 0.6): DataFrame = {
    // persist the gram sets across the self-join sides (same hygiene as
    // [[nearDupCandidates]]: the far-smaller verified pair set materializes
    // eagerly, then the set cache is released)
    val sets = df.select(col(blockCol).as("block"), col(idCol).as("id"),
      TextOps.charGrams(col(textCol), k).as("g")).persist()
    val x = sets.select(col("block"), col("id").as("a_id"), col("g").as("a_g"))
    val y = sets.select(col("block"), col("id").as("b_id"), col("g").as("b_g"))
    val pairs = x.join(y, Seq("block"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        jaccard(col("a_g"), col("b_g")).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .ckpt()
    sets.unpersist()
    pairs
  }

  /** EXACT set-similarity self-join via global-frequency prefix filtering
    * (the AllPairs/PPJoin family — Bayardo, Ma & Srikant, "Scaling up all
    * pairs similarity search", WWW'07): every pair with word-shingle
    * Jaccard ≥ `threshold`, guaranteed complete — no banding probability,
    * no blocking blind spots. The third member of the near-dup family:
    * MinHash-LSH ([[nearDupPairs]]) is probabilistic, manual blocking
    * ([[ngramJaccardPairs]]) trades recall for the block choice; this one
    * is exact AND bounded, at the cost of a vocabulary pass.
    *
    * Why it is not all-pairs: order each document's shingles rarest-first
    * by global document frequency and keep only the first
    * p = s − ⌈τ·s⌉ + 1 as its PREFIX. If J(x,y) ≥ τ, the smallest common
    * shingle must fall inside BOTH prefixes (otherwise the intersection
    * fits in a suffix of size ⌈τ·s⌉ − 1 < τ·s ≤ |x∩y|), so joining on
    * prefix shingles alone loses nothing. Rarest-FIRST is what bounds the
    * fan-out: a stopword-grade shingle shared by a million documents sits
    * at the END of every list and never enters a prefix unless a document
    * is nearly all stopwords. The ⌈·⌉ is computed as ceil(τ·s − 1e-9):
    * float error can only LENGTHEN the prefix (extra candidates, exact
    * result), never shorten it (a 0.6·5 = 3.0000000000000004 double would
    * otherwise drop a qualifying pair). The length filter (τ·|x| ≤ |y| ≤
    * |x|/τ, same epsilon) prunes candidates before verification.
    *
    * Scale: the frequency table is one groupBy over exploded shingles; the
    * candidate join is an equi-join on prefix shingles whose per-key
    * fan-out the rarest-first order bounds; verification fetches the two
    * shingle sets by id (two bounded joins over the candidate list, the
    * [[ngramJaccardOverCandidates]] shape). Nothing quadratic in the
    * corpus — the quadratic lives only inside a shared-rare-shingle
    * bucket, which is exactly what "rare" bounds. */
  def setSimJoinPrefix(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double, shingleK: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: $threshold")
    val sets = df.select(col(idCol).as("id"),
      shingles(col(textCol), shingleK).as("sh")).persist()
    // Shuffle HASHES, not shingle strings (round 14, guide §2.3): every
    // stage from the frequency count to the candidate join uses the
    // shingle only as an opaque equality key, so an 8-byte xxhash64
    // stands in for the ~string-sized token through THREE shuffles
    // (freq groupBy, freq join-back, per-doc collect) and the candidate
    // equi-join. Correctness is unconditional, not probabilistic: the
    // AllPairs prefix completeness proof holds for ANY global total
    // order of tokens shared by both sides — (merged-df, hash) is one —
    // and a hash collision can only ADD candidate pairs (two tokens
    // colliding join more rows), never remove one; the exact-Jaccard
    // verification on the real shingle sets then decides every pair.
    val tok = sets.select(col("id"), explode(col("sh")).as("t0"))
      .select(col("id"), xxhash64(col("t0")).as("t"))
    val freq = tok.groupBy("t").agg(count(lit(1)).as("df"))
    val pre = tok.join(freq, "t")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("t")))).as("st"))
      .select(col("id"), size(col("st")).as("s"),
        explode(slice(col("st.t"), lit(1),
          (size(col("st")) - ceil(size(col("st")) * threshold - 1e-9) + 1)
            .cast("int"))).as("t"))
    val cands = pre.select(col("id").as("a_id"), col("s").as("sa"), col("t"))
      .join(pre.select(col("id").as("b_id"), col("s").as("sb"), col("t")),
        Seq("t"))
      .where(col("a_id") < col("b_id") &&
        col("sb") >= col("sa") * threshold - 1e-9 &&
        col("sa") >= col("sb") * threshold - 1e-9)
      .select("a_id", "b_id").distinct()
    val pairs = cands
      .join(sets.select(col("id").as("a_id"), col("sh").as("a_sh")), Seq("a_id"))
      .join(sets.select(col("id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
      .withColumn("jaccard", jaccard(col("a_sh"), col("b_sh")))
      .where(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
      .ckpt()
    sets.unpersist()
    pairs
  }

  /** EXACT containment self-join: every pair whose shingle-set overlap
    * covers at least `threshold` of the SMALLER set —
    * C(A,B) = |A∩B| / min(|A|,|B|). The asymmetric companion to
    * [[setSimJoinPrefix]]: a 200-word article pasted inside a 5000-word
    * boilerplate wrapper has Jaccard ≈ 0.04 (invisible to every
    * Jaccard-thresholded detector) but containment 1.0 — the wrapped-copy
    * case a crawl corpus is full of.
    *
    * Candidates by the one-sided prefix rule: order shingles rarest-first
    * (global document frequency); if C ≥ τ with A the smaller set, the
    * smallest common shingle must fall in A's p = s_A − ⌈τ·s_A⌉ + 1 prefix
    * (else the intersection fits in ⌈τ·s_A⌉ − 1 < τ·s_A ≤ |A∩B| tail
    * positions). Unlike the symmetric Jaccard case nothing bounds WHERE
    * the shingle sits in B, so the index side carries B's FULL list —
    * candidate volume is Σ_{t ∈ prefixes} df(t), bounded by prefix
    * RARITY, not a hard cap; the same FP-safe ceil as [[setSimJoinPrefix]]
    * (ceil(τ·s − 1e-9) can only lengthen a prefix). No length filter
    * exists here — size asymmetry is the point.
    *
    * Returns (a_id, b_id, containment) with a_id < b_id, exact. */
  def containmentJoinPrefix(df: DataFrame, idCol: String, textCol: String,
                            threshold: Double,
                            shingleK: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: $threshold")
    val sets = df.select(col(idCol).as("id"),
      shingles(col(textCol), shingleK).as("sh")).persist()
    // hashes through every shuffle/join, exact verify at the end — the
    // same unconditional-correctness argument as [[setSimJoinPrefix]]
    // (any shared global token order preserves prefix completeness;
    // collisions only add candidates, and verification is exact)
    val tok = sets.select(col("id"), explode(col("sh")).as("t0"))
      .select(col("id"), xxhash64(col("t0")).as("t"))
    val ordered = tok.join(tok.groupBy("t").agg(count(lit(1)).as("df")), "t")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("t")))).as("st"))
      .select(col("id"), size(col("st")).as("s"), col("st.t").as("ts"))
      .persist() // prefix side and full index side both read this
    val prefix = ordered.select(col("id").as("x_id"), col("s").as("sx"),
      explode(slice(col("ts"), lit(1),
        (col("s") - ceil(col("s") * threshold - 1e-9) + 1).cast("int")))
        .as("t"))
    val full = ordered.select(col("id").as("y_id"), col("s").as("sy"),
      explode(col("ts")).as("t"))
    // orient so x is the (size, id)-smaller doc: its prefix is the one the
    // completeness argument needs; (a_id, b_id) then re-orders by id alone
    val cands = prefix.join(full, Seq("t"))
      .where(col("sx") < col("sy") ||
        (col("sx") === col("sy") && col("x_id") < col("y_id")))
      .select(least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"))
      .distinct()
    val pairs = cands
      .join(sets.select(col("id").as("a_id"), col("sh").as("a_sh")), Seq("a_id"))
      .join(sets.select(col("id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
      .withColumn("containment",
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          least(size(col("a_sh")), size(col("b_sh"))))
      .where(col("containment") >= threshold)
      .select("a_id", "b_id", "containment")
      .ckpt()
    ordered.unpersist()
    sets.unpersist()
    pairs
  }

  /** Char-n-gram Jaccard verification over an EXPLICIT candidate pair list
    * (e.g. [[nearDupCandidates]] MinHash-LSH output) — the
    * LSH-candidates-as-block variant of [[ngramJaccardPairs]]: prefix
    * blocking is blind to near-dups that differ in the first `prefixLen`
    * chars, whereas LSH candidates are recall-bounded by the banding math
    * regardless of WHERE the edit falls. Two bounded joins fetch the gram
    * sets; cost is O(|cands|), never all-pairs. */
  def ngramJaccardOverCandidates(df: DataFrame, cands: DataFrame,
                                 idCol: String, textCol: String, k: Int = 5,
                                 threshold: Double = 0.6): DataFrame = {
    val sets = df.select(col(idCol).as("id"),
      TextOps.charGrams(col(textCol), k).as("g"))
    cands.select("a_id", "b_id")
      .join(sets.select(col("id").as("a_id"), col("g").as("a_g")), Seq("a_id"))
      .join(sets.select(col("id").as("b_id"), col("g").as("b_g")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        jaccard(col("a_g"), col("b_g")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Drop near-duplicates given a (a_id < b_id) pair list: the keep-first
    * policy — every doc appearing as the LARGER id of a pair is dropped, so
    * one representative (the smallest id reachable greedily) survives per
    * duplicate neighborhood. One anti-join; no driver round-trip. (Full
    * transitive-closure canonicalization needs iterative connected
    * components — deliberately out of scope for the single-pass pipeline.) */
  def dropNearDups(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    df.join(pairs.select(col("b_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** SimHash table (id, sim): per-bit majority over the token hashes,
    * bits packed into one long. Token hash: xxhash64 (seed 42) by
    * default; `md5Hash = true` uses [[TextOps.md5Hash60]], the
    * engine-neutral form (use bits ≤ 60 with it — only the low 60 hash
    * bits carry entropy). */
  def simhashes(df: DataFrame, idCol: String, textCol: String,
                bits: Int = 32, md5Hash: Boolean = false): DataFrame =
    simhashesFromTokens(
      df.select(col(idCol).as("id"), split(col(textCol), " ").as("w")),
      bits, md5Hash)

  /** [[simhashes]] over a pre-split `(id, w)` token-array frame — the
    * shared-tokenization entry point (see
    * [[graft.ext.TextOps.ngramsFromTokens]]). */
  def simhashesFromTokens(tok: DataFrame, bits: Int = 32,
                          md5Hash: Boolean = false): DataFrame =
    // native per-row kernel (round 14, guide §2.4): the bit-majority is a
    // pure per-document fold — an explode→groupBy formulation shuffles
    // one row per TOKEN OCCURRENCE into a 60-column bit-sum aggregate.
    // Empty token arrays yield null → filtered (absent id).
    tok.select(col("id"),
        GraftColumn(SimHashTokens(GraftColumn.expr(col("w")), bits, md5Hash)).as("sim"))
      .where(col("sim").isNotNull)

  /** Connected components over an undirected pair list — the transitive-
    * closure canonicalization [[dropNearDups]] deliberately leaves open:
    * a chain a~b, b~c (no a~c pair) is ONE duplicate group and must keep
    * exactly one representative.
    *
    * Alternating large-star / small-star contractions (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"): each round is two
    * self-join+groupBy passes over the CURRENT edge list, and the edge list
    * converges to a star forest — every node pointing at its component
    * minimum — in O(log n) rounds, independent of chain length. That bound
    * is what makes this the 100 TB answer: a min-label-propagation loop
    * needs O(diameter) shuffles and dies on long chains. Each round is
    * [[graft.Ckpt]]-truncated so lineage stays flat and the (small) edge
    * list never re-derives from the corpus.
    *
    * Convergence (round 11): every round re-contracts the FULL current
    * edge list, and the loop stops when the state is a star forest rooted
    * at component minima — probed by two lazy emptiness tests over the
    * just-checkpointed frame: (a) no child is a root anywhere, and (b) no
    * child has more than one distinct parent. Probe (a) alone is unsound
    * (a 2-level state can have a child pointing at two roots of the same
    * true component — stopping there splits it; the r10 bug), so both run.
    * A settled-star EXTRACTION variant (move stars that both operations
    * map to themselves into a done list; re-contract only the live
    * remainder) was built and measured: it materialized 3 extra full
    * frames per round and ran 42% slower at sf10, because re-contracting
    * an already-settled star is two cheap self-joins that shrink nothing —
    * so it was rejected in favor of full re-contraction with the sound
    * two-probe fixpoint test.
    *
    * Returns (id, component) for every id appearing in `pairs`, where
    * component = the minimum id reachable via any pair chain. Throws if the
    * edge set has not stabilized after `maxIter` rounds (2^maxIter nodes) —
    * wrong groups are worse than a loud failure. */
  def connectedComponents(pairs: DataFrame, aCol: String = "a_id",
                          bCol: String = "b_id", maxIter: Int = 16): DataFrame = {
    val nodes = pairs.select(col(aCol).as("id"))
      .union(pairs.select(col(bCol).as("id"))).distinct()

    // large-star: every neighbor LARGER than u links to the min of u's
    // closed neighborhood; keeps connectivity, strictly shrinks big stars.
    // NO distinct here: the output flows straight into smallStar, whose
    // min-groupBy is duplicate-insensitive and whose own distinct dedups
    // the round's result — the dropped exchange is one less stage of
    // latency per round with no row inflation (each undirected edge
    // emits exactly one oriented row either way).
    def largeStar(e: DataFrame): DataFrame = {
      val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = und.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      und.join(m, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
    }

    // small-star: orient edges larger->smaller, then every smaller
    // neighbor (and u itself) links to u's minimum neighbor
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val m = or.groupBy("u").agg(min(col("v")).as("m"))
      or.join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    var live = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .where(col("u") =!= col("v")).distinct().ckpt()
    var converged = live.isEmpty
    var round = 0
    while (!converged && round < maxIter) {
      val next = smallStar(largeStar(live)).ckpt()
      // SOUND star-forest fixpoint test: the state is a star forest
      // rooted at component minima iff (a) no child is a root anywhere
      // AND (b) every child has exactly ONE distinct parent. Checking
      // (a) alone is unsound: pairs {(1,6),(5,6),(5,7),(2,7)} reach a
      // 2-level state {(5,1),(5,2),(6,1),(7,2)} after one round where
      // no child is a root, yet child 5 points at TWO roots of the same
      // true component — stopping there splits component 1 (the r10
      // convergence bug). Probed over the just-checkpointed frame — no
      // per-round splits, no extra checkpoints (round 11: the
      // settled-star extraction variant materialized 3 additional full
      // frames per round and measured 42% SLOWER at sf10 than
      // re-contracting settled stars, which large/small-star map to
      // themselves).
      // ONE probe job (round 14): tag each edge endpoint with its side
      // and aggregate both violation tests in a single pass — (a) a node
      // appearing as child AND parent, (b) a child with more than one
      // parent row (next is DISTINCT — smallStar ends with one — so the
      // plain row count per child equals its distinct-parent count). The
      // two-probe form paid a semi-join shuffle plus a groupBy shuffle
      // and two scheduling round-trips per round for the same answer.
      val viol = next.select(col("u"), lit(1L).as("__c"), lit(0L).as("__p"))
        .unionAll(next.select(col("v").as("u"), lit(0L).as("__c"),
          lit(1L).as("__p")))
        .groupBy("u").agg(sum(col("__c")).as("__nc"), sum(col("__p")).as("__np"))
        .where((col("__nc") > 0 && col("__np") > 0) || col("__nc") > 1)
      converged = viol.isEmpty
      // the superseded round's blocks have no reader left: `next` is
      // materialized and both fixpoint probes (which only read `next`)
      // have run — drop eagerly so the loop pins O(1) rounds of edge
      // state, not O(rounds) (the prLoop/lpaRounds lifetime rule)
      Ckpt.drop(live)
      live = next
      round += 1
      Ckpt.frontier(live.sparkSession, "cc_live", round, live.count())
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // converged star forest: each non-root points at its component minimum
    val stars = live
    nodes.join(stars.groupBy(col("u").as("id")).agg(min(col("v")).as("c")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("c"), col("id")).as("component"))
  }

  /** Canonical near-dup cleaning: keep exactly the component-minimum doc of
    * every duplicate group (transitive closure of the verified pair list),
    * plus all unpaired docs. Unlike single-pass [[dropNearDups]], chains
    * spanning multiple pairs collapse to ONE kept representative. */
  def dropNearDupGroups(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    df.join(
      connectedComponents(pairs).where(col("id") =!= col("component"))
        .select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Incremental connected components — maintain dedup/ER group labels
    * when a NEW batch of pairs arrives, without re-running the closure
    * over the full corpus. The standard contraction argument: every base
    * component is already collapsed to its minimum-id representative in
    * `base`, so it suffices to run CC over the CONTRACTED delta graph —
    * each new pair's endpoints mapped to their current representative
    * (self for unseen batch ids) — and re-point affected labels. Because
    * each representative IS its component's minimum and batch ids are
    * fresh, the contracted min-label equals the global min-label, so the
    * output is hash-identical to a full recompute over base ∪ delta
    * pairs (the registered oracle asserts exactly that).
    *
    * Scale: the closure's cost drops from O(all edges) to O(delta edges +
    * touched components) — the contracted graph has one node per TOUCHED
    * component or batch doc, not per corpus doc; untouched components are
    * never read past the relabel join. Combined with the persisted-index
    * candidate generation (`incrementalNearDedup`), daily corpus
    * maintenance at 100 TB never re-shuffles the corpus: index-join the
    * batch, contract, close the (small) delta graph.
    *
    * Contract: `base` is (id, component) with component = min member id
    * (a [[connectedComponents]] output, singletons included or not —
    * absent ids act as singletons via the left joins); batch ids must be
    * disjoint from base ids. Returns (id, component) covering every base
    * id plus every `batchIds` id. */
  def incrementalComponents(base: DataFrame, batchIds: DataFrame,
                            newPairs: DataFrame, aCol: String = "a_id",
                            bCol: String = "b_id"): DataFrame = {
    val lab = base.select(col(base.columns(0)).as("id"),
      col(base.columns(1)).as("component"))
    val (moves, inserts) =
      incrementalComponentJournal(base, batchIds, newPairs, aCol, bCol)
    // re-point members of components whose representative moved — ONE
    // map-side broadcast pass over the store; untouched labels carry
    val rebased = lab
      .join(broadcast(moves.withColumnRenamed("new_component", "__c")),
        Seq("component"), "left")
      .select(col("id"), coalesce(col("__c"), col("component")).as("component"))
    rebased.unionAll(inserts)
  }

  /** The UPDATE JOURNAL a batch contributes to the persisted label store —
    * [[incrementalComponents]] without re-materializing the store: returns
    * (moves, inserts) where `moves` (component, new_component) re-points
    * every store row whose component is a moved representative, and
    * `inserts` (id, component) labels the batch ids plus corpus singletons
    * a delta pair connected. Both frames are DELTA-sized (touched
    * components + batch), so the ingest pipeline's per-batch label
    * persistence is batch-sized — the O(corpus) store is only ever
    * scanned (by the caller applying the journal), never rewritten per
    * batch. `incrementalComponents` IS journal application, so a
    * journal-maintained store is hash-identical to the full recompute the
    * registered oracle replays. */
  def incrementalComponentJournal(base: DataFrame, batchIds: DataFrame,
                                  newPairs: DataFrame, aCol: String = "a_id",
                                  bCol: String = "b_id"): (DataFrame, DataFrame) = {
    val lab = base.select(col(base.columns(0)).as("id"),
      col(base.columns(1)).as("component"))
    val b = batchIds.select(col(batchIds.columns(0)).as("id"))
    // The label store is O(corpus) — it must never be SHUFFLED, only
    // scanned. Everything delta-sized (endpoints, contracted graph, moved
    // reps) broadcasts instead; PlanSpec pins no SortMergeJoin. Scan
    // count over `base`: exactly two (touched-label extraction + the
    // final broadcast relabel pass).
    // touched labels: restrict the store to the delta's endpoints with a
    // broadcast semi-join (small right side), so the two endpoint lookups
    // below join small-vs-small
    val endIds = newPairs.select(col(aCol).as("id"))
      .unionAll(newPairs.select(col(bCol).as("id"))).distinct()
    val touched = lab.join(broadcast(endIds), Seq("id"), "left_semi").ckpt()
    // contract: endpoint -> current representative (self when unseen);
    // `ends` feeds both the edge list and the raw-corpus-node probe
    val ends = newPairs.select(col(aCol).as("pa"), col(bCol).as("pb"))
      .join(broadcast(touched.select(col("id").as("pa"),
        col("component").as("ca"))), Seq("pa"), "left")
      .join(broadcast(touched.select(col("id").as("pb"),
        col("component").as("cb"))), Seq("pb"), "left")
      .ckpt()
    val e = ends
      .select(coalesce(col("ca"), col("pa")).as("u"),
        coalesce(col("cb"), col("pb")).as("v"))
      .where(col("u") =!= col("v"))
    // close the contracted delta graph (nodes = touched reps + raw ids)
    val merged = connectedComponents(e, "u", "v").ckpt()
    // moves: a contracted node id IS the old component key of every store
    // row it represents; no-op rows (label unchanged) are dropped
    val moves = merged
      .select(col("id").as("component"), col("component").as("new_component"))
      .where(col("component") =!= col("new_component"))
    // batch docs: merged label when their pairs connected them, else self
    val batch = b
      .join(broadcast(merged.withColumnRenamed("component", "__c")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("__c"), col("id")).as("component"))
    // corpus ids that were SINGLETONS in base (no label entry, so the
    // contraction passed them through raw) but got connected by a delta
    // pair: their only label lives in `merged` — emit it, or the caller's
    // coalesce-to-self would silently split their group. A raw endpoint
    // is one whose touched-label lookup missed; delta-sized throughout.
    val corpusSingletons = ends.where(col("ca").isNull)
      .select(col("pa").as("id"))
      .unionAll(ends.where(col("cb").isNull).select(col("pb").as("id")))
      .distinct()
      .join(broadcast(b), Seq("id"), "left_anti")
      .join(broadcast(merged), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    (moves, batch.unionAll(corpusSingletons))
  }

  /** THE INGEST-A-BATCH COMPOSITION — one call that runs a new document
    * batch through the full daily pipeline against the PERSISTED corpus
    * state only (never corpus text):
    *   1. exact dedup — batch content hashes vs the persisted hash set,
    *      keep-first (min id) among same-hash batch docs;
    *   2. incremental near-dedup — exact survivors vs the persisted
    *      band+shingle index and within themselves
    *      ([[incrementalNearDedupPersisted]]);
    *   3. label fold — the FULL batch's delta pairs (duplicates join
    *      their groups too) closed into the base components via the
    *      delta-sized update journal ([[incrementalComponentJournal]]);
    *   4. index append/refresh — the accepted docs' band/shingle/hash
    *      contributions plus the label journal WRITTEN to `outDir`
    *      (all batch-sized; the standing index is never rewritten) and
    *      read BACK to build the result, so a broken append breaks the
    *      caller's oracle hash.
    * Returns one row per batch doc: (idCol, status ∈ {dup_exact,
    * dup_near, accepted}, component). */
  def ingestBatch(batch: DataFrame, corpusBands: DataFrame,
                  corpusShingles: DataFrame, corpusHashes: DataFrame,
                  baseComponents: DataFrame, idCol: String, textCol: String,
                  outDir: String, threshold: Double = 0.7,
                  hash: Column => Column = xxhash64(_)): DataFrame = {
    val spark = batch.sparkSession
    // (1) exact, vs the persisted hash set (column name taken from the
    // persisted frame) + keep-first within batch
    val hCol = corpusHashes.columns(0)
    val bh = batch.select(col(idCol), hash(col(textCol)).as(hCol))
    val keepers = bh.groupBy(hCol).agg(min(col(idCol)).as("__keep"))
    val exact = bh.join(keepers, Seq(hCol))
      .join(corpusHashes.withColumn("__inc", lit(1)), Seq(hCol), "left")
      .select(col(idCol),
        (col("__inc").isNotNull || col(idCol) =!= col("__keep"))
          .as("__dup_exact"))
    // survivor ids feed four consumers below — checkpoint once
    val exactKeptIds = exact.where(!col("__dup_exact"))
      .select(col(idCol).as("id")).ckpt()
    // ONE batch shingle + band pass feeds steps 2, 3 AND 4 (round 15,
    // guide §1.2 "don't compute things twice": the old form shingled and
    // minhashed the batch text three times — once per step — and ran the
    // corpus cross-candidate join twice). Band/set rows are per-doc
    // deterministic, so every per-step frame below is an id-restriction
    // of these two tables, bit-identical to re-deriving it from text.
    val bSets = batch.select(col(idCol).as("id"),
      shingles(col(textCol), 3).as("sh")).persist()
    val bBands = minhashBandsFromSets(bSets).persist()
    // verified cross pairs for the FULL batch — candidacy and the exact
    // verify are per-pair independent (the corpus-side bucket cap does
    // not depend on the batch), so the exact-survivor subset in step 2
    // is a pure filter of this one frame
    val cross = crossPairs(corpusBands, corpusShingles, bSets, bBands,
      threshold, 10000).ckpt()
    // (2) near status for the exact survivors: corpus hits filtered from
    // the full-batch pass; within-batch keep-first pairs over the
    // survivor-restricted set/band tables
    // the survivor restrictions are read by candidate generation AND both
    // verify sides — persist the (cache-over-cache) views once
    val kSets = bSets.join(exactKeptIds, Seq("id"), "left_semi").persist()
    val kBands = bBands.join(exactKeptIds, Seq("id"), "left_semi").persist()
    val hitCorpus = cross
      .join(exactKeptIds.select(col("id").as("b_id")), Seq("b_id"), "left_semi")
      .select(col("b_id").as("id")).distinct()
    val withinKept = nearDupPairsFromBands(kSets, kBands, threshold)
    val acceptedIds = exactKeptIds
      .join(hitCorpus, Seq("id"), "left_anti")
      .join(withinKept.select(col("b_id").as("id")), Seq("id"), "left_anti")
      .ckpt()
    kSets.unpersist()
    kBands.unpersist()
    // (3) fold via the delta-sized journal — delta pairs = the cross
    // pairs above ∪ within-batch pairs over the FULL batch
    val withinFull = nearDupPairsFromBands(bSets, bBands, threshold)
    val delta = cross.unionAll(withinFull).ckpt()
    val (moves, inserts) = incrementalComponentJournal(
      baseComponents, batch.select(idCol), delta)
    // (4) append/refresh — batch-sized writes, all id-restrictions of the
    // shared tables (and the step-1 hash frame), read back below
    val aBands = bBands.join(acceptedIds, Seq("id"), "left_semi")
    val aSets = bSets.join(acceptedIds, Seq("id"), "left_semi")
    graft.io.Sinks.parquet(aBands, s"$outDir/bands_append.parquet")
    graft.io.Sinks.parquet(aSets, s"$outDir/shingles_append.parquet")
    graft.io.Sinks.parquet(
      bh.join(acceptedIds.select(col("id").as(idCol)), Seq(idCol), "left_semi")
        .select(hCol).distinct(),
      s"$outDir/hashes_append.parquet")
    graft.io.Sinks.parquet(moves, s"$outDir/label_moves.parquet")
    graft.io.Sinks.parquet(inserts, s"$outDir/label_inserts.parquet")
    bSets.unpersist()
    bBands.unpersist()
    val acceptedBack = spark.read
      .parquet(s"$outDir/shingles_append.parquet")
      .select(col("id").as(idCol), lit(1).as("__acc"))
    val labelsBack = spark.read.parquet(s"$outDir/label_inserts.parquet")
      .select(col("id").as(idCol), col("component"))
    batch.select(idCol)
      .join(exact, Seq(idCol))
      .join(acceptedBack, Seq(idCol), "left")
      .join(labelsBack, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__dup_exact"), "dup_exact")
          .when(col("__acc").isNull, "dup_near")
          .otherwise("accepted").as("status"),
        coalesce(col("component"), col(idCol)).as("component"))
  }

  /** Banded near-dup join over ANY bit-signature frame `(id, sim)` —
    * SimHash, perceptual hash, any Hamming-space sketch. Two signatures
    * within hamming distance d share at least one of `bands` equal chunks
    * whenever d < bands (pigeonhole), so the candidate join is an EQUALITY
    * join on (band, chunk) — never all-pairs — and bit_count(xor) verifies
    * exactly. The exploded band table is persisted for the self-join and
    * released once the (small) verified pair set is materialized.
    *
    * Buckets above `maxBucket` collapse to a star around the bucket-minimum
    * id (the quadratic-hole guard of [[graft.ops.Blocking]]): connectivity
    * survives, pair count is k-1 not k²/2, and the Hamming verification
    * still gates each emitted pair. Recall trade: a member of an over-cap
    * bucket is only tested against the representative. */
  def signaturePairs(withSimIn: DataFrame, maxDist: Int, bits: Int,
                     bands: Int, maxBucket: Int = 10000): DataFrame = {
    require(maxDist < bands,
      s"banding is complete only for maxDist < bands (got $maxDist >= $bands)")
    // chunk width must be in [1, 63]: bands > bits gives chunk 0 and
    // bands = 1 over 64 bits gives a 64-bit mask — both make every chunk
    // value 0, silently degrading the candidate join to ALL-PAIRS
    require(bands > 0 && bands <= bits,
      s"bands must be in [1, bits] (got $bands for $bits bits)")
    require(bits / bands < 64,
      s"chunk width ${bits / bands} would overflow the 64-bit mask")
    val chunk = bits / bands
    // chunk j = (sim >> (j*chunk)) & ((1<<chunk)-1); column-valued shifts
    // need the SQL parser:
    val mask = (1L << chunk) - 1
    // persist the EXPLODED bands (not the input): the signature lineage
    // runs once into this cache, and both stats and the join probe read it
    val banded0 = withSimIn.select(col("id"), col("sim"),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), j -> shiftright(sim, j * $chunk) & ${mask}L)"))
        .as(Seq("band", "chunk_val")))
      .persist()
    // the representative carries its signature, so a star pair's hamming
    // needs no second lookup; persisted for the same three-consumer
    // reason as [[nearDupCandidatesFromBands]] (first consumer
    // materializes — no standalone count; banded0 is evictable for free
    // once banded2 is cached)
    val key = Seq("band", "chunk_val")
    val banded2 = Blocking.sized(banded0, key, "id", Seq("sim")).persist()
    val pairs = Blocking.pairs(banded2, key, "id", Seq("sim"), maxBucket)
      .select(col("a_id"), col("b_id"),
        bit_count(col("__a_sim").bitwiseXOR(col("__b_sim"))).as("hamming"))
      .where(col("hamming") <= maxDist)
      .distinct()
      .ckpt()
    banded2.unpersist()
    banded0.unpersist()
    pairs
  }

  /** SimHash near-dup pairs: [[simhashes]] piped through [[signaturePairs]]
    * (`md5Hash` picks the token hash as in [[simhashes]]). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3, bits: Int = 32, bands: Int = 4,
                   maxBucket: Int = 10000,
                   md5Hash: Boolean = false): DataFrame =
    signaturePairs(simhashes(df, idCol, textCol, bits, md5Hash), maxDist, bits,
      bands, maxBucket)

  /** [[simhashPairs]] over a pre-split `(id, w)` token-array frame that
    * the caller persists — the ensemble's shared-tokenization arm. */
  def simhashPairsFromTokens(tok: DataFrame, maxDist: Int = 3,
                             bits: Int = 32, bands: Int = 4,
                             maxBucket: Int = 10000,
                             md5Hash: Boolean = false): DataFrame =
    signaturePairs(simhashesFromTokens(tok, bits, md5Hash), maxDist, bits,
      bands, maxBucket)

  /** Cross-source priority dedup — the multi-dump mixing rule: when the
    * same content arrives from several sources (an old crawl dump, a
    * curated set, a re-scrape), keep the copy from the HIGHEST-priority
    * source (smallest `priority`), ids as the final tiebreak — not an
    * arbitrary survivor. Returns one row per distinct content:
    * (keep_id, n_copies, n_priorities). One sha2 groupBy; the argmin is a
    * partial-aggregable struct-min, same shape as [[exactDedupGroups]].
    *
    * Null contract: a NULL `priority` (e.g. a regexp_extract that matched
    * nothing, cast to int) sorts LOWEST — i.e. it would silently WIN the
    * struct-min under Spark's nulls-first ordering while losing under an
    * ANSI `ORDER BY pr` (nulls last). Nulls are therefore coalesced to
    * Long.MaxValue: an unknown-priority copy survives only when no known
    * copy exists, and both engines agree. */
  def dedupeByPriority(df: DataFrame, textCol: String, idCol: String,
                       priority: Column): DataFrame =
    df.select(col(idCol).as("__id"), col(textCol).as("__t"),
        coalesce(priority.cast("long"), lit(Long.MaxValue)).as("__pr"),
        priority.as("__pr0"))
      .groupBy(sha2(col("__t"), 256).as("content_hash"))
      .agg(min(struct(col("__pr"), col("__id"))).as("__k"),
        count(lit(1)).as("n_copies"),
        // distinct of the RAW priority: an ANSI COUNT(DISTINCT pr)
        // ignores nulls, and the sentinel must not surface as a priority
        countDistinct(col("__pr0")).as("n_priorities"))
      .select(col("__k.__id").as("keep_id"), col("n_copies"),
        col("n_priorities"))

  /** Survivorship / golden-record fusion — the master-data-management
    * step AFTER duplicate groups are known: fuse each group's rows into
    * one record, each attribute surviving by its own rule rather than one
    * winner row taking all (the distinction from
    * [[dropNearDupGroupsKeepBest]]).
    * `df` carries `groupCol` already (the CC component, an exact content
    * hash — any assignment). Emitted per group: `n_members`, `keep_id`
    * (min id), plus one column per rule:
    *
    *  - `longestCols`: the value from the row maximizing (length, min id)
    *    — "fullest value survives", ties to the smallest id;
    *  - `modalCols`: the group's most frequent value, ties to the
    *    smallest value — "consensus survives";
    *  - `maxCols`: plain max — for monotone gauges (latest ts, max size).
    *
    * `idCol` must be numeric (the tiebreak negates it into a struct-max).
    * Plan: ONE partial-aggregable groupBy for count/min/max/longest
    * (argmax as struct-max, no window), plus one two-level count
    * aggregation per modal column joined back on the group key — each
    * shuffle carries a row per (group[, value]), never the corpus. */
  def goldenRecords(df: DataFrame, idCol: String, groupCol: String,
                    longestCols: Seq[String] = Nil,
                    modalCols: Seq[String] = Nil,
                    maxCols: Seq[String] = Nil): DataFrame = {
    val aggs =
      count(lit(1)).as("n_members") +:
        min(col(idCol)).as("keep_id") +:
        (maxCols.map(c => max(col(c)).as(c)) ++
          longestCols.map(c => max(struct(length(col(c)).as("l"),
            (lit(0L) - col(idCol)).as("nid"), col(c).as("v")))
            .as(s"__lg_$c")))
    val base = df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
    val withLongest = longestCols.foldLeft(base)((acc, c) =>
      acc.withColumn(c, col(s"__lg_$c.v")).drop(s"__lg_$c"))
    modalCols.foldLeft(withLongest) { (acc, c) =>
      // null contract: null values do not vote for the mode — a group
      // that is all-null keeps null (left join), matching an ANSI
      // mode()/ORDER BY replay where nulls sort last and count as no
      // consensus; without the filter Spark's nulls-first struct-min
      // would let a single null beat every real value on ties
      val m = df.where(col(c).isNotNull)
        .groupBy(col(groupCol), col(c))
        .agg(count(lit(1)).as("__n"))
        .groupBy(col(groupCol))
        .agg(min(struct((lit(0L) - col("__n")).as("nn"), col(c).as("v")))
          .as("__m"))
        .select(col(groupCol), col("__m.v").as(c))
      acc.join(m, Seq(groupCol), "left")
    }
  }

  /** Sorted-neighborhood dedup (Hernández & Stolfo, "The merge/purge
    * problem for large databases", SIGMOD'95) — the third candidate-
    * generation family next to hashing (LSH bands) and prefix filtering
    * (AllPairs): sort the corpus on a discriminating key, slide a window
    * of `window` rows, and verify only rank-adjacent pairs. Catches the
    * near-dups that SHARE A PREFIX after normalization (retyped records,
    * re-crawls with trailing edits) in exactly n·(window−1) candidate
    * pairs — an a-priori bound no data-dependent bucketing gives.
    *
    * Sort key: the first `keyLen` chars of lowercased-alphanumeric text
    * (classic SNM key construction), doc id as the uniqueness tiebreak.
    * Returns (a_id, b_id, jaccard) for window pairs with shingle Jaccard
    * ≥ `threshold`, a_id < b_id.
    *
    * Scale: the global sort position comes from [[graft.ops.Rank]]'s
    * two-level prefix sum (no single-partition corpus window); window
    * pairs come from an EQUALITY join on the rank block `⌊(rank−1)/w⌋` —
    * each row joins its own block and its successor (a 2-row explode), so
    * the shuffle is hash-parallel and the fan-out is exactly w−1 per row.
    * Verification touches candidates only. */
  def sortedNeighborPairs(df: DataFrame, idCol: String, textCol: String,
                          window: Int = 4, threshold: Double = 0.5,
                          keyLen: Int = 24, bucketLen: Int = 2): DataFrame = {
    require(window >= 2, s"window below 2 pairs nothing: $window")
    val keyed = df.select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("__key",
        substring(regexp_replace(lower(col("text")), "[^a-z0-9]", ""), 1, keyLen))
    val ranked = graft.ops.Rank.globalRank(keyed, col("__key"), col("id"),
        substring(col("__key"), 1, bucketLen), rankCol = "__r")
      .withColumn("__g", floor((col("__r") - 1) / window))
      .select(col("id"), col("__r"), col("__g"),
        TextOps.shingles(col("text")).as("__sh"))
      .ckpt() // 2 consumers; rank must not be re-derived
    val left = ranked.select(col("id").as("a_id"), col("__r").as("__ra"),
        col("__sh").as("__sha"),
        explode(array(col("__g"), col("__g") + 1)).as("__g"))
    left.join(ranked.select(col("id").as("b_id"), col("__r").as("__rb"),
        col("__sh").as("__shb"), col("__g")), Seq("__g"))
      .where((col("__rb") - col("__ra")).between(lit(1), lit(window - 1)))
      .withColumn("jaccard", TextOps.jaccard(col("__sha"), col("__shb")))
      .where(col("jaccard") >= threshold)
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"), col("jaccard"))
  }
}
