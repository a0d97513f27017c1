#!/usr/bin/env python3
"""Derive bench_prior.json from one or more bench_out.json artifacts.

bench_prior.json is the flat {"key": seconds} reference Bench.scala's
implausibility guard (VERDICT r14 #4) compares fresh timings against: any
query or index build measuring > 3x its prior re-measures before the
artifact is written. Refresh it from each committed clean run:

    python3 scripts/make_bench_prior.py bench_out.json > bench_prior.json

With several artifacts, the per-key MIN is kept — the fastest committed
time is the right "plausible" reference (a slow-host epoch can only
inflate times, never deflate them). IMPORTANT: pass only artifacts
produced by the CURRENT build configuration — min can never move a
prior back UP, so feeding a superseded config's faster build time
(e.g. a pre-quality-fix index build) makes the guard re-time every
legitimately-slower build forever. After a deliberate cost change,
regenerate from the new config's runs alone.
"""
import json
import sys

prior = {}


def keep(key, val):
    if isinstance(val, (int, float)) and val > 0:
        prior[key] = min(val, prior.get(key, float("inf")))


def keep_qps(key, val):
    # QPS keys keep the per-key MAX: a slow-host epoch can only DEFLATE
    # throughput, so the fastest committed point is the plausibility
    # reference (mirror image of the seconds keys' MIN).
    if isinstance(val, (int, float)) and val > 0:
        prior[key] = max(val, prior.get(key, 0.0))


for path in sys.argv[1:] or ["bench_out.json"]:
    d = json.load(open(path))
    for name, sec in d.get("queries", {}).items():
        keep(name, sec)
    keep("ann.build_sec", d.get("ann", {}).get("build_sec"))
    keep("ann_l2.build_sec", d.get("ann_l2", {}).get("build_sec"))
    keep("ivf_pq.build_sec",
         d.get("ann_l2", {}).get("ivf_pq", {}).get("build_sec"))
    for blk in d.get("ann_hidim", []):
        keep(f"ann_hidim{blk.get('dim')}.build_sec", blk.get("build_sec"))
        keep_qps(f"ann_hidim{blk.get('dim')}.exact_qps",
                 blk.get("exact_qps"))
    # Family QPS references (VERDICT r15 #2): every named non-sweep QPS
    # point Bench.scala guards with replausibleQps. Sweep points stay
    # covered by their internal monotonicity guard.
    ann = d.get("ann", {})
    keep_qps("ann.exact_qps", ann.get("exact_qps"))
    keep_qps("ann.int8_exact_qps", ann.get("int8_exact_qps"))
    keep_qps("ann.ivf_int8.qps", ann.get("ivf_int8", {}).get("qps"))
    l2 = d.get("ann_l2", {})
    keep_qps("ann_l2.exact_qps", l2.get("exact_qps"))
    keep_qps("ann_l2.ivf_f16.qps", l2.get("ivf_f16", {}).get("qps"))
    keep_qps("ann_l2.ivf_pq.qps", l2.get("ivf_pq", {}).get("qps"))
    keep_qps("ann_l2.ivf_pq_rerank.qps",
             l2.get("ivf_pq_rerank", {}).get("qps"))
    fb = d.get("fusion_batch", {})
    for pk, name in (("fusion.sf", "sf"), ("fusion.synth", "synthetic")):
        p = fb.get(name, {})
        for f in ("fused_qps", "fused_qps_combined",
                  "fused_qps_combined_int8", "mmr_qps_combined"):
            keep_qps(f"{pk}.{f}", p.get(f))
        keep(f"{pk}.ingest_to_serve_sec", p.get("ingest_to_serve_sec"))
    b = d.get("binary", {})
    for f in ("qps_f32_exact", "qps_hamming_scan", "qps_bin_rerank",
              "qps_bin_serving", "qps_serving_scan"):
        keep_qps(f"binary.{f}", b.get(f))

json.dump(dict(sorted(prior.items())), sys.stdout, indent=0)
print()
