#!/usr/bin/env python3
"""Compare graft.Bench output against the anchored 2x envelopes.

Usage: python3 tools/envelope_check.py BENCH_LOG_OR_JSON...

Each argument is a file containing (anywhere in it, e.g. raw sbt
stdout) the one-line Bench JSON contract ({"metric":...}); the LAST
such line in each file is used. Prints a per-query table when a file
contains breaches, and a one-line verdict per file. Exit code 1 iff
any file breaches on a run that is not host-contaminated.

Anchors live in tools/anchors.json — the operational mirror of
BASELINE.md (which stays the adjudication record: before treating a
breach as a regression, read the host-generation and contention notes
there and check the per-pass samples in bench_detail.json for
flatness). Headline queries missing from anchors.json are reported as
UNANCHORED — add an anchor from >=2 cold driver-identical runs.

CONTAMINATION DETECTION (the r16/r17 adjudication, automated): a
co-tenant/throttled host slows queries by a broadly uniform factor
and with wild pass-to-pass spread, while a code regression moves only
the queries whose plan changed — and moves EVERY pass of them. Three
evidence rules, any of which labels the run CONTAMINATED when it
breaches (measured against the actual r16/r17 driver artifacts, which
read remainder-median 1.12/1.23 vs every clean run's <= ~1.0):

  R1 (needs per-pass samples — bench_detail.json beside the log or at
     the contract's "detail" path): EVERY breached query has at least
     one pass inside its envelope. A genuine plan regression slows all
     passes; a clean pass among the samples is contention caught
     mid-run. (This is the judge's min-sample adjudication from the
     r17 VERDICT, automated.)
  R2: the median anchor-ratio of the NON-breached anchored queries
     exceeds 1.10 — the untouched remainder moved together, a host
     scale factor (a real regression leaves the remainder at ~1.0).
  R3: the median anchor-ratio of the stable TPC-H subset (plans
     untouched for ten+ rounds) exceeds 1.3.

A contaminated run's breaches are still listed but SUPPRESSED from
the exit code — adjudicate with a cold rerun instead of trusting the
artifact. A clean run reports breaches exactly as before.
"""
import json
import os
import statistics
import sys

# The never-touched TPC-H fixtures: plain scan/join/agg plans stable
# since round ~6.
STABLE_SUBSET = [
    "q1_agg", "q3_topk", "q5_region_revenue", "q7_nation_volume",
    "q13_customer_distribution", "q16_supplier_count", "q18_large_orders",
    "q21_waiting_supplier", "q6_revenue_delta", "q9_product_profit",
]

REMAINDER_MEDIAN_LIMIT = 1.10
STABLE_MEDIAN_LIMIT = 1.3


def load_bench(path):
    line = None
    with open(path) as f:
        for l in f:
            # sbt prefixes program stdout with '[info] ' — find the
            # contract line anywhere in the line, not just at the start
            idx = l.find('{"metric"')
            if idx >= 0:
                line = l[idx:].strip()
    if line is None:
        raise SystemExit(f"{path}: no Bench contract line found")
    return json.loads(line)


def load_samples(path, bench):
    """Per-pass samples ({query: [sec, ...]}), if findable: the
    contract's "detail" path as given, or resolved beside the log.
    Absent samples are fine — R2/R3 alone decide then."""
    candidates = []
    d = bench.get("detail")
    if isinstance(d, str) and d:
        candidates.append(d)
        candidates.append(os.path.join(
            os.path.dirname(os.path.abspath(path)), d))
    candidates.append(os.path.join(os.path.dirname(os.path.abspath(path)),
                                   "bench_detail.json"))
    for c in candidates:
        try:
            with open(c) as f:
                det = json.load(f)
            s = det.get("samples") if isinstance(det, dict) else None
            if isinstance(s, dict):
                return s
        except (OSError, ValueError):
            continue
    return None


def contamination(queries, anchors, breaches, samples):
    """Evidence lines (empty = clean). Only consulted when breaches
    exist — a breach-free run needs no adjudication."""
    evidence = []
    # R1: every breach has a clean pass among its samples
    if samples and breaches:
        spiked = []
        for q, sec, a in breaches:
            s = samples.get(q)
            if (isinstance(s, list) and len(s) >= 2
                    and all(isinstance(x, (int, float)) for x in s)
                    and min(s) <= 2 * a):
                spiked.append((q, min(s)))
        if len(spiked) == len(breaches):
            names = ", ".join(f"{q} (min pass {m:.2f}s in envelope)"
                              for q, m in spiked)
            evidence.append(
                "every breached query has a pass inside its envelope — "
                f"contention caught mid-run, not a plan change: {names}")
    # R2: the non-breached remainder moved together
    breached_names = {q for q, _, _ in breaches}
    remainder = [queries[q] / anchors[q] for q in queries
                 if q in anchors and q not in breached_names
                 and anchors[q] > 0]
    if len(remainder) >= 10:
        med = statistics.median(remainder)
        if med > REMAINDER_MEDIAN_LIMIT:
            evidence.append(
                f"non-breached remainder median ratio {med:.2f}x > "
                f"{REMAINDER_MEDIAN_LIMIT}x across {len(remainder)} anchored "
                "queries — a uniform scale factor is the host, not the code")
    # R3: the stable TPC-H subset moved
    stable = [queries[q] / anchors[q] for q in STABLE_SUBSET
              if q in queries and q in anchors and anchors[q] > 0]
    if len(stable) >= 5:
        med = statistics.median(stable)
        if med > STABLE_MEDIAN_LIMIT:
            evidence.append(
                f"stable TPC-H subset median ratio {med:.2f}x > "
                f"{STABLE_MEDIAN_LIMIT}x on {len(stable)} untouched plans")
    return evidence


def main(argv):
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "anchors.json")) as f:
        anchors = {k: v for k, v in json.load(f).items()
                   if not k.startswith("_")}
    any_breach = False
    for path in argv:
        bench = load_bench(path)
        queries = bench.get("queries", {})
        breaches, unanchored = [], []
        for q, sec in queries.items():
            a = anchors.get(q)
            if a is None:
                unanchored.append(q)
            elif sec > 2 * a:
                breaches.append((q, sec, a))
        total = bench.get("value")
        anchored_sum = sum(anchors[q] for q in queries if q in anchors)
        ratio = (sum(s for q, s in queries.items() if q in anchors)
                 / anchored_sum) if anchored_sum else float("nan")
        contaminated = contamination(
            queries, anchors, breaches,
            load_samples(path, bench)) if breaches else []
        if breaches and contaminated:
            verdict = "CONTAMINATED (breaches suppressed — rerun cold)"
        elif breaches:
            verdict = "BREACH"
        else:
            verdict = "ok"
        print(f"{path}: {len(queries)} queries, total {total}s, "
              f"aggregate {ratio:.2f}x of anchored sum -> {verdict}")
        for line in contaminated:
            print(f"  CONTAMINATION {line}")
        for q, sec, a in sorted(breaches, key=lambda x: -x[1] / x[2]):
            print(f"  BREACH {q}: {sec:.3f}s vs anchor {a:.3f} "
                  f"(envelope {2*a:.3f}, {sec/a:.1f}x)")
        for q in unanchored:
            print(f"  UNANCHORED {q}: {queries[q]:.3f}s — add to tools/anchors.json")
        for q, n in bench.get("failed", {}).items():
            print(f"  FAILED {q}: {n} sample(s) threw and were not timed")
        if bench.get("error"):
            print(f"  error field: {bench['error']}")
        any_breach |= bool(breaches) and not contaminated
    return 1 if any_breach else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
