package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The blocked-pair candidate policy every dedup and linkage operator
  * shares (MinHash and SimHash LSH buckets, deletion-variant fuzzy blocks,
  * Fellegi–Sunter blocks): rows are grouped by a block key; a block at or
  * under the cap emits all its `a_id < b_id` pairs, and a block over the
  * cap collapses to a STAR around its min-id representative — k−1 pairs
  * instead of k²/2.
  *
  * Over-full blocks are the quadratic hole of every blocking join: ONE
  * boilerplate band shared by 10 M docs at 100 TB would emit ~10¹³ pairs
  * from that block alone. The star keeps every member connected to the
  * representative (an over-full block means near-identical records, so a
  * downstream transitive closure still groups them), nothing is silently
  * dropped, and the caller's exact verification still gates each pair.
  * The trade is recall within an over-cap block for members whose only
  * qualifying partner is not the representative.
  *
  * Block size and representative come from an AGGREGATE + JOIN-BACK, never
  * a window over the block key: a degenerate mega-block would buffer whole
  * inside ONE WindowExec task with no AQE remedy, while the aggregate
  * combines map-side and the join-back is AQE-skew-splittable.
  *
  * Both functions are lazy; persisting, checkpointing and `distinct` are
  * the caller's plan. */
private[graft] object Blocking {

  /** Every row of `df` with its block's size (`__bsz`) and representative
    * (`__r`, the min of `struct(id +: payload)`: the min-id row's id and
    * payload fields, by name). */
  def sized(df: DataFrame, keys: Seq[String], id: String,
            payload: Seq[String]): DataFrame = {
    // without payload the representative is a plain min(id): a struct
    // buffer would turn the hash aggregate into a sort aggregate
    val rep =
      if (payload.isEmpty) struct(min(col(id)).as(id))
      else min(struct((id +: payload).map(col): _*))
    df.join(
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__bsz"), rep.as("__r")),
      keys)
  }

  /** Rows of blocks at or under `cap`. */
  def inCap(cap: Long): Column = col("__bsz") <= cap

  /** Rows that pair with their representative: the non-representative
    * members of over-cap blocks. */
  def spoke(id: String, cap: Long): Column =
    col("__bsz") > cap && col(id) =!= rep(id)

  /** Field `f` of the row's block representative. */
  def rep(f: String): Column = col(s"__r.$f")

  /** Candidate pairs of a [[sized]] frame: `(a_id, b_id, __a_<f>, __b_<f>
    * for each payload field f)`, all pairs of in-cap blocks union the star
    * pairs of over-cap blocks. `a_id < b_id` holds on both halves (the
    * representative is its block's minimum). A pair sharing several blocks
    * repeats; the output is O(Σ block²), so stream or `distinct` it. */
  def pairs(sized: DataFrame, keys: Seq[String], id: String,
            payload: Seq[String], cap: Long): DataFrame = {
    val small = sized.where(inCap(cap))
    def side(s: String): DataFrame =
      small.select(keys.map(col) ++ (col(id).as(s"${s}_id") +:
        payload.map(f => col(f).as(s"__${s}_$f"))): _*)
    val out = col("a_id") +: col("b_id") +:
      payload.flatMap(f => Seq(col(s"__a_$f"), col(s"__b_$f")))
    val exact = side("a").join(side("b"), keys)
      .where(col("a_id") < col("b_id"))
      .select(out: _*)
    val star = sized.where(spoke(id, cap))
      .select(rep(id).as("a_id") +: col(id).as("b_id") +:
        payload.flatMap(f => Seq(rep(f).as(s"__a_$f"), col(f).as(s"__b_$f"))): _*)
    exact.union(star)
  }
}
