#!/usr/bin/env python3
"""Merge two graft.Bench full records (sf0.1 baseline and synthetic sf1)
into BENCH_sf1_scaling.json: per-query times, sf1/sf0.1 ratios, and a
verdict per query (6x-15x ~ linear for 10x data + fixed overheads;
superlinear > 15x flags a hidden shuffle/skew; sublinear < 6x means
overheads amortized and says little about asymptotics).

Usage: scaling_report.py <base_full.json> <sf1_full.json> <out.json>
The inputs are the bench_full_c<N>.json records graft.Bench writes (its
stdout line carries only totals); the JSON line is found by the
"metric" marker. Each argument may list several comma-separated files.
"""
import json
import re
import sys


# fixture effects measured during the r15 stress (kept with the data so
# a ratio is never read without its cause)
NOTES = {
    "q_skew_join": (
        "output cardinality grows ~87x by fixture construction (the "
        "modulo-derived hot keys collapse every re-keyed copy onto the "
        "same 3 keys on BOTH sides: 4.17M rows at sf0.1 -> 364M at "
        "sf1, measured in DuckDB); 20x wall for 87x output is "
        "SUBLINEAR in output size — the salting holds"),
    "q_semdedup": (
        "gate caps its input at vec_id < 2500, so sf1 only adds 25% "
        "more rows — the ratio measures fixture overhead, not scaling"),
    # r17 measurements: ScaleUp nudges each embedding copy 1e-4 from its
    # source, so the 10 copies of a vector share LSH buckets AND are
    # genuine near-dups of each other — bucket co-occupancy grows 10x on
    # both join sides (candidate volume ~100x, quadratic by fixture
    # construction, not by plan)
    "q_embedding_neardup": (
        "output PAIRS grow 113.8x by fixture construction (6,661 -> "
        "757,870 rows, measured via graft.Verify on both scales): every "
        "ScaleUp copy is a near-dup of its 9 siblings; 14.6x wall for "
        "113.8x output is strongly SUBLINEAR in output size"),
    "q_ann_lsh_topk": (
        "candidate volume grows ~100x by the same fixture mechanism "
        "(copies share buckets: both bucket-join sides densify 10x; the "
        "sibling q_embedding_neardup gate MEASURES the quadratic at "
        "113.8x output growth); ~21x wall for ~100x candidates is "
        "sublinear in candidate volume — at production scale nPlanes "
        "rises with corpus size to keep buckets bounded (the documented "
        "banding knob), which a fixed-16-plane gate deliberately holds "
        "constant for oracle replay"),
}


def bench_json(path: str) -> dict:
    with open(path) as f:
        for line in f:
            m = re.search(r'\{"metric".*\}', line)
            if m:
                return json.loads(m.group(0))
    raise SystemExit(f"no bench JSON line in {path}")


def merged(paths: str) -> dict:
    """comma-separated bench records; later records override earlier
    queries (re-runs after an interrupted sweep), total recomputed"""
    out = {"queries": {}}
    for p in paths.split(","):
        out["queries"].update(bench_json(p)["queries"])
    out["value"] = sum(out["queries"].values())
    return out


def main() -> None:
    base_path, sf1_path, out_path = sys.argv[1:4]
    base = merged(base_path)
    sf1 = merged(sf1_path)
    qs = {}
    worst = (None, 0.0)
    for name, t0 in sorted(base["queries"].items()):
        t1 = sf1["queries"].get(name)
        if t1 is None:
            continue
        ratio = round(t1 / t0, 2) if t0 > 0 else None
        if ratio is not None and ratio > worst[1]:
            worst = (name, ratio)
        verdict = ("no-baseline" if ratio is None else
                   "superlinear" if ratio > 15 else
                   "linear" if ratio >= 6 else
                   "sublinear" if ratio >= 1 else "anomalous")
        qs[name] = {"sf0.1_sec": round(t0, 3), "sf1_sec": round(t1, 3),
                    "ratio": ratio, "verdict": verdict}
        if name in NOTES:
            qs[name]["note"] = NOTES[name]
    n_super = sum(1 for q in qs.values() if q["verdict"] == "superlinear")
    out = {
        "factor": 10,
        "method": ("deterministic sf1 = graft.tools.ScaleUp over sf0.1 "
                   "(10 re-keyed copies, dims unscaled, per-copy alphabet "
                   "rotation for documents, 1e-4 embedding nudge); both "
                   "sweeps single-pass on the same 32-core host"),
        "total_sf0.1_sec": round(base["value"], 1),
        "total_sf1_sec": round(sf1["value"], 1),
        "total_ratio": round(sf1["value"] / base["value"], 2),
        "n_queries": len(qs),
        "n_superlinear": n_super,
        "worst_scaler": {"query": worst[0], "ratio": worst[1]},
        "queries": qs,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"{out_path}: {len(qs)} queries, total ratio "
          f"{out['total_ratio']}x, {n_super} superlinear, worst "
          f"{worst[0]} at {worst[1]}x")


if __name__ == "__main__":
    main()
