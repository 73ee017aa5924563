#!/usr/bin/env python3
"""Compare two sets of benchmark artifacts, refusing ones not comparable.

    python3 indexbench/compare.py BASE.json [BASE.json ...] -- CHANGE.json [CHANGE.json ...]

Artifacts are the files run.py keeps in .bench_build/results/. Every
artifact on both sides must share the run header's environment (CPU count,
local[n], heap, JVM, Spark) and workload settings; otherwise the comparison
is refused with exit code 3. Git SHA and seed may differ, but two runs with
the same seed must have generated the same corpus. For each metric the
table shows each side's median and quartile spread and the change's median
as a share of the base's.
"""
import json
import statistics
import sys

MUST_MATCH = ("nproc", "local", "max_heap_mb", "jvm", "spark",
              "workload", "seconds", "trace", "generated_tokens")


def load(paths):
    return [json.load(open(p)) for p in paths]


def refuse(msg):
    print(f"refusing to compare: {msg}", file=sys.stderr)
    sys.exit(3)


def check_headers(arts, names):
    first, first_name = arts[0]["header"], names[0]
    corpus_by_seed = {}
    for art, name in zip(arts, names):
        h = art["header"]
        for key in MUST_MATCH:
            if h.get(key) != first.get(key):
                refuse(f"header field '{key}' differs: {first_name} has {first.get(key)!r}, "
                       f"{name} has {h.get(key)!r}")
        seen = corpus_by_seed.setdefault(h["seed"], (h["corpus_sha256"], name))
        if seen[0] != h["corpus_sha256"]:
            refuse(f"seed {h['seed']} generated different corpora in {seen[1]} and {name}")


def summary(values):
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, float("nan")
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / med


def main(argv):
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    cut = argv.index("--")
    base_names, change_names = argv[:cut], argv[cut + 1:]
    if not base_names or not change_names:
        refuse("each side needs at least one artifact")
    base, change = load(base_names), load(change_names)
    check_headers(base + change, base_names + change_names)
    print(f"{'metric':36s} {'unit':8s} {'base':>12s} {'spread':>7s} {'change':>12s} {'spread':>7s} {'ratio':>7s}")
    for name, m in base[0]["result"]["metrics"].items():
        b = summary([a["result"]["metrics"][name]["value"] for a in base])
        c = summary([a["result"]["metrics"][name]["value"] for a in change])
        ratio = c[0] / b[0] if b[0] else float("nan")
        print(f"{name:36s} {m['unit']:8s} {b[0]:12.6g} {b[1]:7.3f} {c[0]:12.6g} {c[1]:7.3f} {ratio:7.3f}")


if __name__ == "__main__":
    main(sys.argv[1:])
