#!/bin/bash
# Round-14 demand #7: ONE consolidated full-registry sf10 bench artifact.
#
# Runs the whole registry at sf10 (/tmp/sf10, ScaleUp x100 of sf0.1) in
# FAMILY JVMs (fresh 32 GiB driver heap per family, RUNS=1, RETIME=0,
# quiet box), copying each family's bench/full_latest.json aside, then
# merges them into bench/full_sf10_r14.json with the corpus signature.
#
# The two documented disk-bound exact arms (dedup_setsim, dedup_containment
# on the x100-clone corpus: the all-pairs OUTPUT is quadratic in clone-group
# size) run LAST in their own JVM so a disk-full abort cannot poison the
# other families' numbers.
#
# Usage: tools/sf10_full.sh [sfdir]   (default /tmp/sf10)
set -u
cd /root/repo
SF=${1:-/tmp/sf10}
OUT=bench/sf10_r14
mkdir -p "$OUT"

ALL=$(grep -hoP 'Reg\("\K[a-z0-9_]+' src/main/scala/graft/queries/*.scala | sort -u)

fam() {  # fam <name> <grep-regex>
  echo "$ALL" | grep -E "$2" | paste -sd,
}

GRAPH=$(fam graph '^graph_|^text_keywords$')
DEDUP=$(fam dedup '^dedup_|^para_')
DEDUP=$(echo "$DEDUP" | tr ',' '\n' | grep -vE '^dedup_setsim$|^dedup_containment$' | paste -sd,)
ER=$(fam er '^er_fs|^fuzzy_join$')
STREAM=$(fam stream '^stream_|^sessionize')
ANN=$(fam ann '^topk_|^ann_recall$|^embed_pca$|^eq_quantize$')
PIPE=$(fam pipe '^pipeline_|^mix_|^pack_|^sample_|^shard_stats$|^split_groups$|^train_order$|^domain_cap$|^quality_score_lr$')
TEXT=$(fam text '^text_|^vocab_topk$|^contamination$|^search_|^eval_|^seq_')
RISKY="dedup_setsim,dedup_containment"
USED=$(echo "$GRAPH,$DEDUP,$ER,$STREAM,$ANN,$PIPE,$TEXT,$RISKY" | tr ',' '\n' | sort -u)
CORE=$(comm -23 <(echo "$ALL") <(echo "$USED") | paste -sd,)

run_family() {  # run_family <label> <csv> [mem]
  local label=$1 csv=$2 mem=${3:-32g}
  [ -z "$csv" ] && return 0
  echo "=== family $label ($(echo "$csv" | tr ',' '\n' | wc -l) queries, mem $mem) $(date -u +%H:%M:%S) ==="
  SPARK_GRAFT_SF_DIR=$SF SPARK_GRAFT_ONLY=$csv \
  SPARK_GRAFT_RUNS=1 SPARK_GRAFT_RETIME=0 SPARK_GRAFT_EMPTY_REPLAY=0 \
  SPARK_DRIVER_MEM=$mem \
    sbt -batch "runMain graft.Bench" > "$OUT/$label.stdout" 2> "$OUT/$label.stderr"
  local rc=$?
  cp bench/full_latest.json "$OUT/$label.json" 2>/dev/null
  echo "--- family $label rc=$rc $(date -u +%H:%M:%S); disk: $(df -h /tmp | tail -1 | awk '{print $4}') free"
  return 0
}

echo "sf10 campaign start $(date -u); corpus=$SF"
df -h /tmp | tail -1
# Pre-stage pass: touch every Stage.versioned family once so the published
# per-query numbers are uniformly WARM-artifact (comparable to the r12/r13
# family tables, where staging one-time cost is reported separately in
# SCALE.md). Its numbers are NOT merged into the artifact.
STAGE="graph_pagerank,graph_hits,graph_triangles,text_keywords,dedup_incr_near_persisted,pipeline_ingest_batch,topk_sim_ivf_persisted,topk_sim_pq_persisted,text_bpe_encode_persisted,j_bucketed,sketch_hll_incr"
run_family stage   "$STAGE"
run_family core    "$CORE"
run_family text    "$TEXT"
run_family pipe    "$PIPE"
run_family ann     "$ANN"
run_family stream  "$STREAM"
run_family er      "$ER"
run_family dedup   "$DEDUP"
run_family graph   "$GRAPH"
run_family risky   "$RISKY"
echo "sf10 campaign done $(date -u)"
