#!/usr/bin/env python3
"""Fixture tests for tools/artifact_check.py.

Cases 1-7 test heavy_breach_fingerprint (VERDICT r10 #2): the r10
driver breach (cpu_share 0.57/0.60, gc 4.3 s, zero spill against a
33 s excess) was mislabeled "JVM memory stall" by the old gc-only
fingerprint. Each fixture is shaped like a real observed breach class;
the test asserts the ordered diagnosis names the right culprit. Cases
8-10 run the whole checker against doctored artifacts.

Run: python3 tools/test_artifact_check.py   (exit 0 = all pass)
"""
import importlib.util
import os
import sys

spec = importlib.util.spec_from_file_location(
    "artifact_check_mod",
    os.path.join(os.path.dirname(__file__), "artifact_check.py"))
# artifact_check runs its checks at import time against sys.argv[1] (the
# repo root); point it at the real repo so import doesn't fail, then use
# only the pure fingerprint function.
sys.argv = [sys.argv[0], os.path.join(os.path.dirname(__file__), "..")]
mod = importlib.util.module_from_spec(spec)
try:
    spec.loader.exec_module(mod)
except SystemExit:
    pass  # the import-time gate may exit non-zero mid-round; irrelevant here
fp = mod.heavy_breach_fingerprint


def bench(total, budget, gc, spill_each, shares, secs):
    names = list(secs)
    return {
        "heavy_total": total, "heavy_budget_sec": budget,
        "heavy_gc_total": gc,
        "heavy_spill_bytes": {n: spill_each for n in names},
        "heavy_cpu_share": dict(zip(names, shares)),
        "heavy": secs,
    }


failures = []


def check(name, got, want_substr):
    if want_substr not in got:
        failures.append(f"{name}: expected '{want_substr}' in '{got}'")


# 1. The r10 driver breach, verbatim shape: 91.2 s vs 90 s, gc 4.3 s,
#    zero spill, the two big entries at cpu_share 0.57/0.60. The old
#    fingerprint called this a JVM stall; it is a host stall.
r10 = bench(91.2, 90.0, 4.3, 0,
            [0.572, 0.602, 0.832, 0.882],
            {"pipeline_curate": 35.7, "dedup_components": 28.8,
             "ngram_jaccard": 5.1, "sql_neardup": 1.5})
check("r10-shape", fp(r10), "host stall")

# 2. The r9 driver breach shape: 94.2 s vs 90 s, same host-stall class
#    (cpu_share 0.46-0.60 on the slow entries, gc small vs excess).
r9 = bench(94.2, 90.0, 3.9, 0,
           [0.46, 0.60, 0.85],
           {"pipeline_curate": 40.5, "dedup_components": 23.5,
            "ngram_jaccard": 5.0})
check("r9-shape", fp(r9), "host stall")

# 3. A genuine JVM memory stall: gc eats most of the excess.
jvm = bench(110.0, 90.0, 14.0, 0,
            [0.95, 0.93], {"a": 60.0, "b": 50.0})
check("gc-dominated", fp(jvm), "JVM memory stall")

# 4. Spill-driven stall: any shuffle spill inside the tier is memory
#    pressure regardless of gc (spill is checked first).
sp = bench(100.0, 90.0, 1.0, 1 << 30,
           [0.95, 0.93], {"a": 55.0, "b": 45.0})
check("spill-dominated", fp(sp), "JVM memory stall")

# 5. Plan regression: healthy JVM (flat gc, no spill), healthy host
#    (cpu_share ~= 1) — the time went into real compute, i.e. the plan.
plan = bench(120.0, 90.0, 2.0, 0,
             [0.97, 0.95, 0.96], {"a": 70.0, "b": 30.0, "c": 20.0})
check("plan-regression", fp(plan), "plan regression")

# 6. Observability absent (pre-r10 artifact): no attribution, no crash.
#    Equality, not substring — "" is a substring of everything, so a
#    substring check here could never fail (r11 review pass).
got6 = fp({"heavy_total": 95.0, "heavy_budget_sec": 90.0})
if got6 != "":
    failures.append(f"no-columns: expected '', got '{got6}'")

# 6b. Partially observable: gc present (and unalarming) but no
#     cpu_share/secs — must return "" rather than crash formatting a
#     None mean share (found by the r11 review pass).
got6b = fp({"heavy_total": 95.0, "heavy_budget_sec": 90.0,
            "heavy_gc_total": 2.0})
if got6b != "":
    failures.append(f"partial-columns: expected '', got '{got6b}'")

# 6c. Spill present but gc column absent: the spill branch fires alone
#     and must not crash formatting a missing gc total (r11 review
#     pass — f"{None:.1f}" raises TypeError). Spill must be MATERIAL
#     (>= SPILL_MATERIAL_BYTES) for the branch to fire at all.
check("spill-no-gc",
      fp({"heavy_total": 95.0, "heavy_budget_sec": 90.0,
          "heavy_spill_bytes": {"a": 1 << 30}}),
      "JVM memory stall")

# 6d. ADVICE r11: a genuinely host-stalled run (cpu_share 0.55/0.60)
#     with INCIDENTAL spill (1 MiB on one entry, far below the material
#     threshold) must read as a host stall — the old spill>0 test
#     misattributed it as a JVM memory stall.
tiny = bench(100.0, 90.0, 2.0, 0,
             [0.55, 0.60], {"a": 60.0, "b": 40.0})
tiny["heavy_spill_bytes"] = {"a": 1 << 20, "b": 0}
check("tiny-spill-host-stall", fp(tiny), "host stall")

# 7. Weighting matters: many fast healthy entries must not wash out the
#    slow descheduled ones — the mean is time-weighted.
wt = bench(100.0, 90.0, 2.0, 0,
           [0.55, 0.98, 0.98, 0.98, 0.98],
           {"slow": 70.0, "f1": 2.0, "f2": 2.0, "f3": 2.0, "f4": 2.0})
check("time-weighted", fp(wt), "host stall")

# End-to-end cases run the whole checker against a temp repo root.
# Each builds its bench.json from its own artifact — a committed
# BENCH_r*.json driver record, never the live bench.json — so a new
# committed bench.json cannot break them; BENCH_stress.json and
# bench_all.json are the committed ones unless a case doctors them.
import json
import shutil
import subprocess
import tempfile

repo = os.path.join(os.path.dirname(__file__), "..")


def parsed(name):
    with open(os.path.join(repo, name)) as f:
        return json.load(f)["parsed"]


def run_check(bench_obj, stress_obj=None):
    tmp = tempfile.mkdtemp()
    try:
        shutil.copy(os.path.join(repo, "bench_all.json"), tmp)
        if stress_obj is None:
            shutil.copy(os.path.join(repo, "BENCH_stress.json"), tmp)
        else:
            with open(os.path.join(tmp, "BENCH_stress.json"), "w") as f:
                json.dump(stress_obj, f)
        with open(os.path.join(tmp, "bench.json"), "w") as f:
            json.dump(bench_obj, f)
        return subprocess.run(
            [sys.executable,
             os.path.join(os.path.dirname(__file__), "artifact_check.py"),
             tmp],
            capture_output=True, text=True)
    finally:
        shutil.rmtree(tmp)


def bench_lines(r):
    return [l for l in r.stdout.splitlines() if "bench.json:" in l
            and "bench_all.json:" not in l]


# 8. The heavy budget gates the RAW total: a 95 s tier breaches the
#    90 s budget even when the artifact carries a heavy_host_factor
#    (1.12 would have normalized it to 84.8 s) and cpu_share says the
#    plan, not the host, spent the time.
doct = parsed("BENCH_r18_c8.json")
doct.update(bench(95.0, 90.0, 1.0, 0, [0.97, 0.95], {"a": 60.0, "b": 35.0}))
doct["heavy_host_factor"] = 1.12
r = run_check(doct)
if r.returncode != 1 or not any("breaches its 90s budget" in l
                                for l in bench_lines(r)):
    failures.append(f"plan-not-normalized: expected a budget failure, got "
                    f"exit {r.returncode}:\n{r.stdout}")

# 8b. The r17 and r18 32-core driver runs: both breached the budget raw
#     (107.9 s and 148.1 s) while their host factors normalized them
#     under it. The budget line must name the row that did the work —
#     pipeline_curate, duplicating work across 32 threads.
for art, want in (("BENCH_r17.json", "pipeline_curate 597.7 of"),
                  ("BENCH_r18.json", "pipeline_curate 710.2 of")):
    r = run_check(parsed(art))
    budget = [l for l in bench_lines(r) if "budget" in l]
    if r.returncode != 1 or not any(want in l for l in budget):
        failures.append(f"{art}: expected exit 1 with a budget line naming "
                        f"'{want}', got exit {r.returncode}:\n{r.stdout}")

# 8c. The 8-core driver runs of the same rounds (48.8 s and 40.8 s raw)
#     pass the bench.json section.
for art in ("BENCH_r17_c8.json", "BENCH_r18_c8.json"):
    r = run_check(parsed(art))
    if bench_lines(r):
        failures.append(f"{art}: bench.json section failed:\n{r.stdout}")

# 9. Stress-freshness gate (VERDICT r12 #2): a BENCH_stress.json whose
#    sweep predates a stress-armed registry row must fail BY NAME —
#    the silent-staleness class the bench_all newest-row pin already
#    stops. Doctor the committed artifact by deleting one armed row.
with open(os.path.join(repo, "BENCH_stress.json")) as f:
    stale = json.load(f)
stale.get("queries", {}).pop("graph_components_nnd", None)
# drop the recorded knn_* round series too — a pre-r13 sweep has
# neither, and both absences must be named
stale["cc_rounds"] = {k: v for k, v in stale.get("cc_rounds", {}).items()
                      if not k.startswith("knn_")}
r = run_check(parsed("BENCH_r18_c8.json"), stale)
if r.returncode == 0:
    failures.append("stale-stress: doctored artifact passed the check")
else:
    for want in ("graph_components_nnd", "knn_*"):
        if want not in r.stdout:
            failures.append(
                f"stale-stress: failure output does not name '{want}':\n"
                f"{r.stdout}")

# 10. Single-point allowlist (VERDICT r13 #5): a row truncated to ONE
#     valid scale point must fail BY NAME unless it is in
#     SINGLE_POINT_OK — a partial/killed sweep must not read as scale
#     coverage. Doctor the committed artifact by dropping all but one
#     point of a multi-point row; the allowlisted graph_components_knn
#     (still single-point in the same artifact) must NOT be named.
with open(os.path.join(repo, "BENCH_stress.json")) as f:
    doct = json.load(f)
pr = doct["queries"]["graph_pagerank"]
for k in [k for k in pr if k.startswith("s") and k != "s1"]:
    del pr[k]
r = run_check(parsed("BENCH_r18_c8.json"), doct)
if r.returncode == 0:
    failures.append("single-point: doctored artifact passed the check")
else:
    if "graph_pagerank' carries a single valid scale point" not in r.stdout:
        failures.append(
            "single-point: failure output does not name the truncated "
            f"row:\n{r.stdout}")
    if "graph_components_knn' carries a single" in r.stdout:
        failures.append(
            "single-point: the allowlisted anchor row was flagged — "
            "SINGLE_POINT_OK is not consulted")

if failures:
    print("FINGERPRINT FIXTURES FAILED:")
    for f in failures:
        print(f"  - {f}")
    sys.exit(1)
print("fingerprint fixtures: all pass")
