#!/usr/bin/env python3
"""Re-derives the suite workload's query panel from the registry profile.

    python3 perfbench/select_panel.py

perfbench/expected/registry_profile.tsv holds one line per registered
query: its time in the repository's bench record (bench_out.json: warm
min-of-3 over the sf0.1 fixtures, consumed by count()), its cold, fully
materialized time in this harness over the suite's generated sf0.01
tables (local[4], 4 cores, best of three runs), and whether the suite can
run it ("fixtures": it stages files under a fixed path outside the run's
directory; "unstable": its fingerprint varied between runs; "error").

The rule: sort the registry by bench-record time and cut it into STRATA
equal-count strata. From each, take the runnable query closest to the
stratum's median in both profiles (the sum of its two rank distances).
e2e_collect, the /collect query, is pinned in its stratum so that the
ops layer's CollectPipeline.run is measured. The script prints the panel
and its median and quartiles next to the registry's, in both profiles.
"""
import os
import statistics

STRATA = 12
PINNED = "e2e_collect"
PROFILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected", "registry_profile.tsv")


def load():
    rows = {}
    with open(PROFILE) as f:
        for line in f:
            if line.startswith("#") or not line.strip():
                continue
            q, record_s, cold_ms, runnable = line.rstrip("\n").split("\t")
            rows[q] = (float(record_s), float(cold_ms), runnable == "yes")
    return rows


def ranks(rows, col):
    order = sorted(rows, key=lambda q: (rows[q][col], q))
    return {q: i / (len(order) - 1) for i, q in enumerate(order)}


def select(rows):
    by_record, by_cold = ranks(rows, 0), ranks(rows, 1)
    order = sorted(rows, key=lambda q: (rows[q][0], q))
    n, panel = len(order), []
    for i in range(STRATA):
        stratum = order[i * n // STRATA:(i + 1) * n // STRATA]
        m0 = statistics.median(by_record[q] for q in stratum)
        m1 = statistics.median(by_cold[q] for q in stratum)
        if PINNED in stratum:
            panel.append(PINNED)
        else:
            panel.append(min((q for q in stratum if rows[q][2]),
                             key=lambda q: (abs(by_record[q] - m0) + abs(by_cold[q] - m1), q)))
    return panel


def summary(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return f"median {med:9.3f}  quartiles {q1:9.3f} {q3:9.3f}  sum {sum(xs):10.3f}"


def main():
    rows = load()
    panel = select(rows)
    print("panel:", ", ".join(panel))
    for col, name in ((0, "bench record s"), (1, "cold harness ms")):
        print(f"{name:16s} registry ({len(rows)}): {summary([r[col] for r in rows.values()])}")
        print(f"{name:16s} panel ({len(panel)}):     {summary([rows[q][col] for q in panel])}")


if __name__ == "__main__":
    main()
