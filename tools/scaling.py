#!/usr/bin/env python3
"""Scaling-curve harness: run the heavy-gate subset at several SFs and
fit per-query scaling exponents.

The 100 TB question the small-SF gates can't answer directly is "what
happens at 1000x the data". This measures the next-best proxy: the
empirical exponent b in t = a * sf^b between sf0.01 and sf0.1 (10x
data). b ~ 1 is linear (scan/shuffle-bound — scales out by adding
executors), b < 1 means fixed overhead still dominates at sf0.1,
b >> 1 is the red flag (super-linear blowup that 1000 executors will
NOT absorb).

Usage:
    python3 tools/scaling.py            # run benches + fit + print table
    python3 tools/scaling.py --fit-only # refit from existing /tmp dumps

Writes SCALING.json in the repo root; paste the table into SCALE.md.
"""
import json
import math
import os
import subprocess
import sys
from pathlib import Path

# the checkout this script lives in: benches build from it and
# SCALING.json lands in its root, whichever clone runs it
ROOT = Path(__file__).resolve().parents[1]

# One-plus representative per heavy plan family; streaming gates are
# excluded from the TIME fit (micro-batch harness constant dominates,
# exponent meaningless) — their scaling evidence is state growth, see
# graft.StreamScale / STREAMSCALE.json.
GATES = [
    "dedup_setsim", "dedup_setsim_canonical", "dedup_canonical_incremental",
    "dedup_minhash_bands",
    "dedup_simhash_pairs",
    "dedup_clusters", "dedup_semantic", "dedup_containment",
    "embed_clusters", "embed_neardup_lsh", "knn_ivf", "knn_brute",
    "graph_modularity", "graph_pagerank", "graph_component_sizes",
    "text_tfidf", "text_bpe_train", "text_tokens_bpe",
    "train_token_budget", "train_pipeline", "behavior_seq_support",
    "sessionize", "join_agg", "yearly_revenue", "agg_percentiles",
    "stats_spearman", "basket_rules", "aqp_replicate_spread",
    "sketch_hll_distinct", "sketch_kmv_union", "sketch_hist_quantiles",
    "agg_q1_pricing", "join_q5_volume", "join_q10_returns",
    # round-7 families
    "agg_q6_forecast", "join_q3_shipping", "join_q14_promo",
    "join_q19_disjunctive", "dp_randomized_response", "dp_sum_clipped",
    "ts_twa",
]
SFS = ["sf0.001", "sf0.01", "sf0.1"]


def run_bench(sf: str, out: str) -> None:
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_SF_DIR": f"/root/testdata/{sf}",
        "SPARK_GRAFT_ONLY": ",".join(GATES),
        "SPARK_GRAFT_OUT": out,
        "SPARK_GRAFT_CPUS": env.get("SPARK_GRAFT_CPUS", "32"),
    })
    # with SPARK_GRAFT_OUT set, Bench evicts its staged artifacts first
    # (staging_build_sec is a from-scratch build at every SF, a SCALING
    # row of its own) and adds the containment candidate funnel
    subprocess.run(
        ["sbt", "-batch", "runMain graft.Bench"],
        cwd=ROOT, env=env, check=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)


def main() -> None:
    fit_only = "--fit-only" in sys.argv
    dumps = {}
    for sf in SFS:
        out = f"/tmp/scaling_{sf}.json"
        if not fit_only or not os.path.exists(out):
            print(f"[scaling] benching {sf} ...", flush=True)
            run_bench(sf, out)
        with open(out) as f:
            dumps[sf] = json.load(f)["queries"]

    rows = []
    for g in GATES:
        t = {sf: dumps[sf].get(g) for sf in SFS}
        if any(v is None or v <= 0 for v in t.values()):
            rows.append({"gate": g, "times": t, "exp_10x": None})
            continue
        # exponent over the decade that matters (0.01 -> 0.1); the
        # 0.001 point mostly measures fixed overhead and is reported
        # for context, not fit.
        b = math.log(t["sf0.1"] / t["sf0.01"]) / math.log(10.0)
        rows.append({"gate": g, "times": t, "exp_10x": round(b, 2)})

    # staging build cost per SF as first-class SCALING rows (the staged
    # consumers scale flat by construction; the honest recurring cost is
    # the producers' build, which Bench times fresh per SF)
    extras = {}
    for sf in SFS:
        with open(f"/tmp/scaling_{sf}.json") as f:
            extras[sf] = json.load(f)
    for fam in ("canon", "embpairs"):
        t = {sf: extras[sf].get("staging_build_sec", {}).get(fam)
             for sf in SFS}
        b = None
        if all(v is not None and v > 0 for v in t.values()):
            b = round(math.log(t["sf0.1"] / t["sf0.01"]) / math.log(10.0), 2)
        rows.append({"gate": f"staging_build_{fam}", "times": t, "exp_10x": b})
    funnel = {sf: extras[sf].get("containment_funnel") for sf in SFS
              if extras[sf].get("containment_funnel")}

    rows.sort(key=lambda r: -(r["exp_10x"] or 0))
    doc = {"sfs": SFS, "rows": rows}
    if funnel:
        doc["containment_funnel"] = funnel
    with open(ROOT / "SCALING.json", "w") as f:
        json.dump(doc, f, indent=1)

    print(f"{'gate':28s} {'sf0.001':>8s} {'sf0.01':>8s} {'sf0.1':>8s} {'exp':>5s}")
    for r in rows:
        t = r["times"]
        def fmt(v): return f"{v:8.2f}" if v is not None else "       -"
        e = f"{r['exp_10x']:5.2f}" if r["exp_10x"] is not None else "    -"
        print(f"{r['gate']:28s} {fmt(t['sf0.001'])} {fmt(t['sf0.01'])} "
              f"{fmt(t['sf0.1'])} {e}")


if __name__ == "__main__":
    main()
