#!/usr/bin/env python3
"""Summarise committed benchmark records: per-layer self time per workload
and the tracing overhead.

    python3 perfbench/summarize.py [RECORD_DIR]

RECORD_DIR (default perfbench/records) holds, per workload, the files that
`run.py --record DIR` writes: <workload>.traced.json, its .spans.json, and
<workload>.untraced.json from a run with the same seed and length.
"""
import json
import os
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    rec = sys.argv[1] if len(sys.argv) > 1 else os.path.join(HERE, "records")

    def load(name):
        path = os.path.join(rec, name + ".json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    names = sorted(f[:-len(".traced.json")] for f in os.listdir(rec)
                   if f.endswith(".traced.json"))
    for w in names:
        traced, spans = load(f"{w}.traced"), load(f"{w}.traced.spans")
        untraced = load(f"{w}.untraced")
        ops = traced["attempted"]
        self_s = {k[len("self."):]: v for k, v in traced["per_layer"].items()
                  if k.startswith("self.")}
        total = sum(self_s.values())
        print(f"{w}: {ops} ops traced, {total:.2f} s in ops, "
              f"seed {traced['seed']}")
        for layer, sec in sorted(self_s.items(), key=lambda kv: -kv[1]):
            print(f"  {layer:<20} {sec / ops:9.4f} s/op  "
                  f"{100 * sec / total:5.1f}%")
        jobs = defaultdict(int)
        for c in spans["jobs"]:
            jobs[c["layer"]] += c["jobs"]
        print("  jobs by layer: " + ", ".join(
            f"{k} {v / ops:.1f}/op" for k, v in sorted(jobs.items())))
        t = traced["end_to_end"]["ops_per_s"]
        if untraced:
            u = untraced["end_to_end"]["ops_per_s"]
            print(f"  ops_per_s untraced {u:.4f}, traced {t:.4f}: tracing "
                  f"overhead {100 * (u - t) / u:+.1f}% (one run each, "
                  f"seeds {untraced['seed']} and {traced['seed']})")
        else:
            print(f"  ops_per_s traced {t:.4f} (no untraced record)")


if __name__ == "__main__":
    main()
