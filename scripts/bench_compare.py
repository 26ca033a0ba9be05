#!/usr/bin/env python3
"""Per-query bench regression gate.

Usage: bench_compare.py <old_bench.json> <new_bench.json> [warn_ratio]

Compares per-query MEDIAN timings (the cross-round comparable — see
Bench.scala) between two bench runs. Queries slower than `warn_ratio`×
(default 1.5) print as SLOWER; the exit-1 FAIL bar is deliberately
higher — ratio > 2.5× AND > 1 s absolute, sustained on the MIN timing
too — because back-to-back idle-host runs on this box show 2-2.5×
per-query swings on sub-second queries (measured r5: two consecutive
runs flagged two disjoint sets at 1.5×). Sub-0.3 s queries are exempt
entirely. Round close-out:

    git show <prev-round>:bench.json > /tmp/bench_prev.json
    python3 scripts/bench_compare.py /tmp/bench_prev.json bench.json

Bench times each key's full materialization (a noop write, `queries`)
and keeps the legacy count() time as `queries_count`. When only the new
file has `queries_count`, the old file timed count() alone, so the
compare reads the new file's count-time fields instead: like for like.
When both files carry `queries_jobs`, keys whose job count changed are
listed.
"""
import json
import sys

old_path, new_path = sys.argv[1], sys.argv[2]
warn_ratio = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
FAIL_RATIO = 2.5
FAIL_DELTA_SEC = 1.0
NOISE_FLOOR_SEC = 0.3

old = json.load(open(old_path))
new = json.load(open(new_path))
# an old count-only bench against a new one: compare count to count
count_mode = "queries_count" in new and "queries_count" not in old
suffix = "_count" if count_mode else ""
oq, nq = old["queries"], new["queries" + suffix]
omin = old.get("queries_min", oq)
nmin = new.get("queries" + suffix + "_min", nq)
# per-sample arrays (Bench writes them since r12) make a flag
# self-adjudicating: a would-fail query with ONE clean sample under the
# fail bar is bimodal — a temporally-local host hiccup landing on the
# same suite position across interleaved passes, not a plan change
# (r11 burned a judge session proving exactly this for q11's 13 s
# median; the clean sample was sitting in the discarded min).
nsamples = new.get("samples" + suffix, {})
if count_mode:
    print("old bench times count() only: comparing it against the new "
          "bench's count times (queries_count)")

shared = sorted(set(oq) & set(nq))
added = sorted(set(nq) - set(oq))
removed = sorted(set(oq) - set(nq))

warns, fails, noise_suspect, improved = [], [], [], []
for q in shared:
    a, b = oq[q], nq[q]
    if b <= NOISE_FLOOR_SEC and a <= NOISE_FLOOR_SEC:
        continue
    ratio = b / a if a > 0 else float("inf")
    min_ratio = nmin[q] / omin[q] if omin.get(q, 0) > 0 else ratio
    if (ratio > FAIL_RATIO and b - a > FAIL_DELTA_SEC
            and min_ratio > FAIL_RATIO):
        clean = [s for s in nsamples.get(q, [])
                 if a <= 0 or (s / a <= FAIL_RATIO or s - a <= FAIL_DELTA_SEC)]
        if clean:
            noise_suspect.append((q, a, b, ratio, min(clean)))
        else:
            fails.append((q, a, b, ratio))
    elif ratio > warn_ratio and b - a > 0.2:
        warns.append((q, a, b, ratio))
    elif ratio < 1 / warn_ratio and a - b > 0.2:
        improved.append((q, a, b, ratio))

old_total = sum(oq[q] for q in shared)
new_total = sum(nq[q] for q in shared)
print(f"shared queries: {len(shared)}  (added: {len(added)}, removed: {len(removed)})")
if old_total:
    print(f"shared-query total: {old_total:.1f}s -> {new_total:.1f}s "
          f"({new_total / old_total:.2f}x)")
if added:
    print(f"new queries: {', '.join(added)} "
          f"(+{sum(nq[q] for q in added):.1f}s)")
ojobs, njobs = old.get("queries_jobs", {}), new.get("queries_jobs", {})
for q in sorted(set(ojobs) & set(njobs)):
    if ojobs[q] != njobs[q]:
        print(f"  JOBS  {q}: {ojobs[q]} -> {njobs[q]}")
for q, a, b, r in sorted(improved, key=lambda x: x[3]):
    print(f"  FASTER  {q}: {a:.2f}s -> {b:.2f}s ({r:.2f}x)")
for q, a, b, r in sorted(warns, key=lambda x: -x[3]):
    print(f"  SLOWER  {q}: {a:.2f}s -> {b:.2f}s ({r:.2f}x)  [warn]")
for q, a, b, r, c in sorted(noise_suspect, key=lambda x: -x[3]):
    samp = ",".join(f"{s:.2f}" for s in nsamples.get(q, []))
    print(f"  NOISE-SUSPECT  {q}: {a:.2f}s -> {b:.2f}s ({r:.2f}x) "
          f"but clean sample {c:.2f}s [samples: {samp}] — bimodal, "
          f"host hiccup; re-run standalone only if it recurs next round")
for q, a, b, r in sorted(fails, key=lambda x: -x[3]):
    samp = ",".join(f"{s:.2f}" for s in nsamples.get(q, []))
    extra = f" [samples: {samp}]" if samp else ""
    print(f"  REGRESSED  {q}: {a:.2f}s -> {b:.2f}s ({r:.2f}x){extra}")
if new_total > old_total * 1.25 and new_total - old_total > 5:
    print(f"== TOTAL regressed {new_total / old_total:.2f}x ==")
    sys.exit(1)
if fails:
    print(f"== {len(fails)} sustained regression(s) over {FAIL_RATIO}x ==")
    sys.exit(1)
print(f"== no sustained regressions ({len(warns)} warn, "
      f"{len(noise_suspect)} noise-suspect) ==")
