#!/usr/bin/env python3
"""Rebuild bench_results/committed_medians.json from one or more full
Bench audit records (the files carry every raw sample per query).
Usage: python3 scripts/refresh_medians.py <source-note> <bench.json> [...]
Median is taken over ALL samples of each query across the given records.
The file is keyed by (sf, cpus): graft.Bench applies it only to a run on
the same dataset with the same core count.
"""
import sys, json, statistics

note = sys.argv[1]
records = [json.load(open(p)) for p in sys.argv[2:]]
samples = {}
for r in records:
    for q, ss in r.get("samples", {}).items():
        samples.setdefault(q, []).extend(ss)
sf = records[0]["sf"].rstrip("/").split("/")[-1]
cpus = {int(r["cpus"]) for r in records}
if len(cpus) != 1:
    sys.exit(f"records mix core counts {sorted(cpus)}; medians are per (sf, cpus)")
out = {
    "sf": sf,
    "cpus": cpus.pop(),
    "date": records[0].get("date", "") or __import__("datetime").date.today().isoformat(),
    "source": note,
    "queries": {q: round(statistics.median(ss), 4)
                for q, ss in sorted(samples.items())},
}
with open("bench_results/committed_medians.json", "w") as f:
    json.dump(out, f, indent=1)
print(f"wrote medians for {len(out['queries'])} queries from "
      f"{sum(len(s) for s in samples.values())} samples")
