#!/usr/bin/env python3
"""Merge N bench_full JSON sweeps into one min-of-sweeps record.

Usage: merge_bench.py out.json sweep1.json sweep2.json [...]

Per-query time = min over sweeps where the query succeeded (null = that
sweep failed it; a query failed in EVERY sweep stays null and is listed
in "failed"). "runs" concatenates every sweep's samples. "layers"
carries each query's layers (jobs, stages, tasks, shuffle, spill,
driver gap) from the sweep whose time is kept; a query without a kept
time, or whose kept sweep has no layers, has none. Total = sum of
merged per-query times.
"""
import json
import sys


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_path, ins = sys.argv[1], sys.argv[2:]
    sweeps = [json.load(open(p)) for p in ins]

    names: list[str] = []
    for s in sweeps:
        for k in s["queries"]:
            if k not in names:
                names.append(k)

    queries, runs, layers, failed = {}, {}, {}, []
    for k in names:
        kept = [s for s in sweeps if s["queries"].get(k) is not None]
        if kept:
            best = min(kept, key=lambda s: s["queries"][k])
            queries[k] = best["queries"][k]
            if k in best.get("layers", {}):
                layers[k] = best["layers"][k]
        else:
            queries[k] = None
            failed.append(k)
        samples = []
        for s in sweeps:
            samples += s.get("runs", {}).get(k, [])
        runs[k] = samples

    merged = {
        "metric": "total",
        "value": sum(v for v in queries.values() if v is not None),
        "unit": "sec",
        "queries": queries,
        "runs": runs,
        "layers": layers,
        "failed": failed,
    }

    sfs = {s.get("sf") for s in sweeps}
    merged["sf"] = sweeps[0].get("sf") if len(sfs) == 1 else sorted(
        str(x) for x in sfs)

    with open(out_path, "w") as f:
        json.dump(merged, f)
        f.write("\n")
    print(f"merged {len(ins)} sweeps -> {out_path}: "
          f"{len(names)} queries, total {merged['value']:.1f}s")


if __name__ == "__main__":
    main()
