#!/usr/bin/env python3
"""Artifact-staleness gate (VERDICT r6 item 8).

The r6 failure mode was "Scaladoc/SURVEY claim a measurement, committed
artifact doesn't contain it". This check pins every artifact row the
docs cite to the artifact that must carry it; run it before committing
a round (and any time a doc gains a new measurement claim, add the row
here). Exit 0 = every cited row exists; non-zero lists what's missing.

Usage: python3 tools/artifact_check.py [repo_root]
"""
import json
import re
import sys

ROOT = sys.argv[1] if len(sys.argv) > 1 else "."
failures = []

# Spill only selects the JVM-memory-stall fingerprint when it is a
# material fraction of the heavy tier's working set (see the function
# doc). 64 MiB ~= one shuffle partition of the sf0.1 tier.
SPILL_MATERIAL_BYTES = 64 << 20

# Stress rows measured at ONE anchor scale BY DESIGN (VERDICT r13 #5):
# the known-quadratic exact arms whose larger points would spend
# sweep-hours re-pricing a known class (the knn_graph_blocked
# precedent). The justification lives HERE, next to the gate, so a
# future fit-gate extension cannot silently skip these rows — and any
# OTHER row collapsing to a single valid point (a partial or killed
# sweep) fails by name instead of passing as "present".
SINGLE_POINT_OK = {
    "graph_components_knn": "n^2 exact kNN edge build; s1 anchors the "
                            "exact-vs-linear read beside the linear arm",
}


def heavy_breach_fingerprint(bench):
    """Ordered attribution for a heavy-tier budget breach (VERDICT r10 #2).

    The r10 run of this check printed "JVM memory stall" for a tier whose
    own cpu_share columns said the workers were descheduled — it looked
    at gc alone. The diagnosis now reads the evidence in order:

      1. MATERIAL spill (>= SPILL_MATERIAL_BYTES), or gc both >= half
         the budget excess AND >= 10% of the tier wall time
                                                       -> JVM memory stall
         (the excess-alone test is degenerate when total barely clears
         budget: r10's 1.2 s excess made its routine 4.3 s of gc — 4.7%
         of the tier — read as a "stall"; a real collector stall is a
         material fraction of the tier itself. Likewise spill: a few
         stray MB on one entry is incidental, not memory pressure — a
         genuinely host-stalled run with a tiny spill must not be
         misattributed as a memory stall (ADVICE r11). The sf0.1 heavy
         tier's working set is O(100 MB);
         spill below ~a tier partition's worth is noise.)
      2. time-weighted mean heavy cpu_share < 0.7      -> host stall
         (the OS descheduled the worker threads; external load)
      3. otherwise                                     -> plan regression
         (task_sec grew while the JVM and host were both healthy)

    Returns the fingerprint string, or "" if the artifact lacks the
    observability columns to attribute anything.
    """
    total = bench.get("heavy_total")
    budget = bench.get("heavy_budget_sec")
    if total is None or budget is None:
        return ""
    excess = total - budget
    gc_total = bench.get("heavy_gc_total")
    spill = sum((bench.get("heavy_spill_bytes") or {}).values())
    secs = bench.get("heavy") or {}
    shares = bench.get("heavy_cpu_share") or {}
    weighted = [(secs[k], shares[k]) for k in shares
                if secs.get(k, -1) >= 0]
    wall = sum(s for s, _ in weighted)
    mean_share = (sum(s * c for s, c in weighted) / wall) if wall > 0 else None
    if spill >= SPILL_MATERIAL_BYTES or (gc_total is not None and excess > 0
                     and gc_total >= max(0.5 * excess, 0.1 * total)):
        gc_str = f"{gc_total:.1f}s" if gc_total is not None else "n/a"
        return (f"JVM memory stall (gc {gc_str} / spill {spill} B "
                f"against {excess:.1f}s excess)")
    if mean_share is not None and mean_share < 0.7:
        return (f"host stall (time-weighted heavy cpu_share "
                f"{mean_share:.2f} — workers descheduled by external load)")
    if mean_share is None:
        # gc/spill said "not a JVM stall" but there is no cpu_share
        # evidence to separate host stall from plan regression —
        # partially-observable artifact, attribute nothing (and never
        # crash formatting a None share).
        return ""
    return ("plan regression (task_sec grew with gc/spill flat and "
            f"cpu_share {mean_share:.2f} — an arm's plan got slower)")


def heaviest_task_row(bench):
    """The heavy row that spent the most executor task-seconds, with the
    tier's total, e.g. "pipeline_curate 710.2 of 1300.9 task-s"; "" when
    the artifact carries no heavy_task_sec."""
    task = {k: v for k, v in (bench.get("heavy_task_sec") or {}).items()
            if isinstance(v, (int, float)) and v >= 0}
    if not task:
        return ""
    name = max(task, key=task.get)
    return f"{name} {task[name]:.1f} of {sum(task.values()):.1f} task-s"


def load(name):
    try:
        with open(f"{ROOT}/{name}") as f:
            return json.load(f)
    except Exception as e:
        failures.append(f"{name}: unreadable ({e})")
        return None


# --- BENCH_stress.json: the scale-claim ledger -----------------------
# Cited by: Similarity.scala (ann_ivf geometry / candidate exponent),
# StressBench.scala (skew sweep, cc_rounds, s100 banded fit, decont
# crossover), SURVEY.md §2e'.
stress = load("BENCH_stress.json")
if stress is not None:
    q = stress.get("queries", {})

    def rows(name, min_scales=2):
        if name not in q:
            failures.append(f"BENCH_stress.json: cited row '{name}' missing")
            return {}
        pts = {k: v for k, v in q[name].items() if isinstance(v, dict)}
        ok = {k for k, v in pts.items() if v.get("sec", -1) >= 0}
        if len(ok) < min_scales:
            failures.append(
                f"BENCH_stress.json: '{name}' has {len(ok)} valid scale "
                f"points (< {min_scales})")
        return pts

    rows("ann_ivf_candidates")          # IVF probed-fraction claim
    rows("dedup_components_lsh")        # iterative-shuffle evidence
    rows("decont_bloom_build")          # bloom build-cost curve
    rows("pipeline_decont_exact")       # exact arm beside bloom
    rows("join_salted_skew")            # manual skew arm
    plain = rows("join_plain_skew")     # AQE skew arm
    if plain and not any("+skew" in v.get("strategy", "")
                         for v in plain.values()):
        failures.append(
            "BENCH_stress.json: join_plain_skew never recorded the '+skew' "
            "strategy suffix (AQE OptimizeSkewedJoin did not fire)")
    if not stress.get("cc_rounds"):
        failures.append("BENCH_stress.json: cc_rounds empty "
                        "(flat-rounds claim unbacked)")
    # s100 half-decade extension for the banded families — the point
    # must exist AND be a successful measurement (r10: a broadcast-OOM
    # run recorded -1 sentinels here; a sentinel is not evidence).
    for fam in ("minhash_lsh", "tokjoin_auto", "embed_lshpairs"):
        pts = q.get(fam, {})
        if "s100" not in pts:
            failures.append(
                f"BENCH_stress.json: '{fam}' lacks the s100 point the "
                f"banded-family fit cites")
        elif pts["s100"].get("sec", -1) < 0:
            failures.append(
                f"BENCH_stress.json: '{fam}' s100 point is a failure "
                f"sentinel — re-run the sweep")
    # r9 (VERDICT r8 items 1/5): the two newest ops' scale rows, the
    # n^1.5 blocking claim, and the PQ recall-vs-rerank-width curve.
    rows("dedup_semantic")              # SemDeDup e_time series
    rows("curate_dsir")                 # DSIR e_time series
    rows("semantic_candidates")         # sigma cluster^2 ~ n^1.5 claim
    rows("ann_ivfpq")                   # composed IVF-PQ build+query series
    for w in (16, 32, 64, 128):
        pts = rows(f"ann_pq_recall_w{w}", min_scales=1)
        if w == 64:
            low = {k: v["rows"] for k, v in pts.items()
                   if v.get("rows", -1) >= 0 and v["rows"] < 8000}
            if low:
                failures.append(
                    f"BENCH_stress.json: ann_pq_recall_w64 below the 0.8 "
                    f"gate (basis points): {low}")
    # r10: the composed index's recall-vs-nprobe curve ("raising the
    # gate means raising nprobe" made measurable) + the multi-probe kNN
    # graph's scale series. r11 adds the NN-descent refinement arm on
    # the same scales (its claim: linear n·k² rounds over the blocked
    # seed — so its wall time should grow no faster than the seed's).
    # Expected-class note for knn_graph_blocked's ABSOLUTE fit (VERDICT
    # r16 #6, so no future round reads it as a regression): the arm is
    # analytically n^1.75 (multi-probe over ~sqrt(n) cells of ~sqrt(n)
    # vectors -> n^1.5 candidate pairs x n^0.25 growth in per-cell
    # rerank width). Its committed s1-s3 e_time has drifted 1.217 (r13)
    # -> 1.689 (r16) as fixed per-stage constants stopped dominating
    # the short span - both readings are honest samples of the same
    # class, the span is too short to pin the exponent absolutely, and
    # that is WHY the gate below is RELATIVE to the co-measured refine
    # arm rather than a ceiling on this fit. Treat absolute drift in
    # this row as informational unless the relative gate fires.
    rows("knn_graph_blocked")
    rows("knn_graph_refine")
    # The refinement's whole point is a LOWER growth class than its
    # n^1.75 seed (linear n·k² rounds), so gate the fits RELATIVELY:
    # both arms are co-measured in one sweep under the same host
    # conditions, making the comparison robust to the absolute-number
    # noise that moves either fit a few hundredths between sweeps.
    # +0.15 tolerance covers fit noise over the short s1→s3 span
    # (idle r11 sweep: refine 0.877 vs seed 1.268).
    _be = q.get("knn_graph_blocked", {}).get("e_time")
    _re = q.get("knn_graph_refine", {}).get("e_time")
    if _be is not None and _re is not None and _re > _be + 0.15:
        failures.append(
            f"BENCH_stress.json: knn_graph_refine e_time {_re} grows "
            f"faster than its blocked seed {_be} + 0.15 — the NN-descent "
            f"rounds lost their linear candidate class (check the 2k "
            f"reverse-neighbor degree cap survived refactoring)")
    # r11b: the end-to-end linear build (LSH+ring seed + NN-descent at
    # working degree 12 — no n^1.75 stage anywhere) must carry its s10
    # point (the scale the blocked arm priced at 509 s) and keep a fit
    # meaningfully below the seed class: 1.0 is generous headroom over
    # the measured ~0.45 (fixed per-round stage latency dominates these
    # scales) while still refuting any super-linear regression.
    rows("knn_graph_nnd", min_scales=3)
    if "s10" not in q.get("knn_graph_nnd", {}):
        failures.append(
            "BENCH_stress.json: knn_graph_nnd lacks its s10 point — the "
            "one-scale-further demonstration the docs cite (the corpus "
            "the blocked arm priced at 509 s); re-run the sweep with the "
            "s10 stressdata dir present")
    _nn = q.get("knn_graph_nnd", {}).get("e_time")
    if _nn is not None and _nn > 1.0:
        failures.append(
            f"BENCH_stress.json: knn_graph_nnd e_time {_nn} > 1.0 — the "
            f"linear-build claim broke (check the working-degree cap and "
            f"the per-round localCheckpoint both survived refactoring)")
    # r11c: the graph family. graph_pagerank's corpus saturates its
    # distinct edge set (StressGen reuses the s1 customer/supplier key
    # spaces), so the row prices the linear lineitem⋈orders derivation
    # scan + a bounded fixpoint — anything clearly super-linear means a
    # round stopped being one shuffle+agg. graph_pagerank_nnd composes
    # the LINEAR knn_graph_nnd edge build with the same 10 rounds over
    # a node set that does grow — gate it RELATIVE to its co-measured
    # edge source (the rounds add O(n·k) per round), same discipline as
    # the refine-vs-blocked relative gate above.
    rows("graph_pagerank", min_scales=4)
    _pe = q.get("graph_pagerank", {}).get("e_time")
    if _pe is not None and _pe > 1.2:
        failures.append(
            f"BENCH_stress.json: graph_pagerank e_time {_pe} > 1.2 — the "
            f"saturating-edge-set corpus should price the linear scan "
            f"(check the edge/info persists and the per-round "
            f"localCheckpoint survived refactoring)")
    # r16 (VERDICT r15 #5): the composed centrality arm closed at the
    # family frontier — s30 via nndBuildScales plus the fresh-context
    # s100 point, same span as its edge source and the components arm.
    rows("graph_pagerank_nnd", min_scales=4)
    _pn = q.get("graph_pagerank_nnd", {}).get("e_time")
    if _pn is not None and _nn is not None and _pn > _nn + 0.3:
        failures.append(
            f"BENCH_stress.json: graph_pagerank_nnd e_time {_pn} grows "
            f"faster than its knn_graph_nnd edge source {_nn} + 0.3 — "
            f"the PageRank rounds stopped being O(n·k) per round")
    if "s100" not in q.get("graph_pagerank_nnd", {}):
        failures.append(
            "BENCH_stress.json: graph_pagerank_nnd lacks its s100 point "
            "(VERDICT r15 #5) — re-run the sweep with the s100 corpus "
            "present")
    elif q["graph_pagerank_nnd"]["s100"].get("sec", -1) < 0:
        failures.append(
            "BENCH_stress.json: graph_pagerank_nnd s100 point is a "
            "failure sentinel — re-run the sweep")
    # r12 (VERDICT r11 #7): the linear-build claim's s30 point — one
    # more half-decade past the constant-dominated regime.
    if "s30" not in q.get("knn_graph_nnd", {}):
        failures.append(
            "BENCH_stress.json: knn_graph_nnd lacks its s30 point "
            "(VERDICT r11 #7) — re-run the sweep with nndBuildScales=4")
    # r12 (VERDICT r11 #1/#3): the composed NND-family rows — local
    # clustering (triangles) and D4 diversity selection over the linear
    # edge build — gated RELATIVE to the co-measured edge source, the
    # graph_pagerank_nnd discipline: triangles' wedge join fans by the
    # graph's bounded k and diversity adds pagerank rounds + one
    # edge-derived dup drop + one quantile agg, all O(n·k)-class.
    # r16 (VERDICT r15 #5): triangles joins the s30 frontier
    # (nndBuildScales) — min_scales 4 for both composed rows; its s100
    # arm is deliberately skipped (bounded-k wedge fan, containment
    # trade recorded in StressBench).
    for comp, claim in (("graph_triangles_nnd",
                         "the oriented wedge fan left the m^1.5 class"),
                        ("graph_diversity_select_nnd",
                         "a selection stage stopped being linear")):
        rows(comp, min_scales=4)
        _ce = q.get(comp, {}).get("e_time")
        if _ce is not None and _nn is not None and _ce > _nn + 0.3:
            failures.append(
                f"BENCH_stress.json: {comp} e_time {_ce} grows faster "
                f"than its knn_graph_nnd edge source {_nn} + 0.3 — {claim}")
    # r13 (VERDICT r12 #2): freshness — every registry row with a
    # DECLARED stress arm must be present, the bench_all newest-row
    # discipline applied to the stress ledger (the r12 sweep predated
    # its own round's graph ops and the provenance note was the only
    # witness). When a round adds a stress-armed row to StressBench,
    # add it here in the same commit; a sweep predating the row then
    # fails BY NAME instead of silently under-reporting scale coverage.
    for armed in ("graph_components_nnd", "graph_components_knn",
                  "graph_ppr", "graph_components_copurchase",
                  "graph_pagerank_copurchase", "text_search_bm25",
                  "graph_ppr_weighted", "graph_bfs_seeds"):
        if armed not in q:
            failures.append(
                f"BENCH_stress.json: stress-armed registry row '{armed}' "
                f"absent — sweep predates the op (VERDICT r12 #2); re-run "
                f"graft.StressBench at HEAD")
    # r14 (VERDICT r13 #5): the single-point allowlist enforced — a row
    # with exactly one valid scale point is either a deliberately
    # anchored known-quadratic arm (allowlisted above, with its
    # justification) or a partial sweep that must not read as coverage.
    for name, pts in q.items():
        scale_pts = {k: v for k, v in pts.items()
                     if re.fullmatch(r"s\d+", k) and isinstance(v, dict)}
        ok_pts = sorted(k for k, v in scale_pts.items()
                        if v.get("sec", -1) >= 0)
        if len(ok_pts) == 1 and name not in SINGLE_POINT_OK:
            failures.append(
                f"BENCH_stress.json: '{name}' carries a single valid scale "
                f"point ({ok_pts[0]}) and is not in SINGLE_POINT_OK — a "
                f"partial sweep, or a new anchored row missing its "
                f"justification entry")
    # r14 (VERDICT r13 #2): the components frontier closed at s30 — the
    # linear arm and its SV step series must reach the same scale as
    # the edge source and the diversity composition.
    if "s30" not in q.get("graph_components_nnd", {}):
        failures.append(
            "BENCH_stress.json: graph_components_nnd lacks its s30 point "
            "(VERDICT r13 #2) — re-run the sweep with the arm on "
            "nndBuildScales")
    if "knn_s30" not in (stress.get("cc_rounds") or {}):
        failures.append(
            "BENCH_stress.json: cc_rounds lacks knn_s30 (VERDICT r13 #2) "
            "— the O(log n) step-series envelope is unmeasured at the "
            "frontier")
    # r14 (VERDICT r13 #3): the flagship linear build priced at s100
    # (2 M vectors) — the e_time ≤ 1.0 gate above then spans two full
    # decades (s1–s100).
    if "s100" not in q.get("knn_graph_nnd", {}):
        failures.append(
            "BENCH_stress.json: knn_graph_nnd lacks its s100 point "
            "(VERDICT r13 #3) — re-run the sweep with the s100 corpus "
            "present (launch at -Xmx16g)")
    elif q["knn_graph_nnd"]["s100"].get("sec", -1) < 0:
        failures.append(
            "BENCH_stress.json: knn_graph_nnd s100 point is a failure "
            "sentinel — re-run the sweep (check -Xmx16g)")
    # r14 (VERDICT r13 #4): the weighted co-purchase centrality arm —
    # same corpus shape as graph_pagerank (saturating edge set, linear
    # pair fan), same ≤ 1.2 envelope as its uniform parent.
    rows("graph_pagerank_copurchase", min_scales=4)
    _wpe = q.get("graph_pagerank_copurchase", {}).get("e_time")
    if _wpe is not None and _wpe > 1.2:
        failures.append(
            f"BENCH_stress.json: graph_pagerank_copurchase e_time {_wpe} "
            f"> 1.2 — the weighted rank split left the linear-scan class "
            f"(check the shared pair-fan spelling and the per-round "
            f"checkpoint)")
    # r15 (VERDICT r14 #1/#4): the composed seeded+weighted rank and the
    # multi-source BFS ride the same saturating co-purchase corpus and
    # the same linear-pair-fan + bounded-rounds class — the ≤ 1.2
    # envelope of their graph_pagerank(_copurchase) parents.
    for cp_row, claim in (
            ("graph_ppr_weighted",
             "the seeded+weighted composition acquired a growth class "
             "its parents lack"),
            ("graph_bfs_seeds",
             "a BFS round stopped being one frontier join+anti-join")):
        rows(cp_row, min_scales=4)
        _cpe = q.get(cp_row, {}).get("e_time")
        if _cpe is None:
            # ADVICE r15: a missing exponent must FAIL once the scale
            # points exist — a sweep whose fit silently produced no
            # e_time would otherwise pass the growth-class gate.
            if cp_row in q:
                failures.append(
                    f"BENCH_stress.json: {cp_row} lacks an e_time fit — "
                    f"the ≤ 1.2 growth-class gate cannot be evaluated")
        elif _cpe > 1.2:
            failures.append(
                f"BENCH_stress.json: {cp_row} e_time {_cpe} > 1.2 — {claim}")
    # r15 (VERDICT r14 #3): the composed components arm priced at its
    # edge source's s100 scale, with the SV step series recorded there
    # (cc_rounds knn_s100) — the one graph class that chains now has a
    # step point at 2 M nodes. Must be a successful measurement, not a
    # failure sentinel.
    if "s100" not in q.get("graph_components_nnd", {}):
        failures.append(
            "BENCH_stress.json: graph_components_nnd lacks its s100 point "
            "(VERDICT r14 #3) — re-run the sweep with the s100 corpus "
            "present")
    elif q["graph_components_nnd"]["s100"].get("sec", -1) < 0:
        failures.append(
            "BENCH_stress.json: graph_components_nnd s100 point is a "
            "failure sentinel — re-run the sweep")
    if "knn_s100" not in (stress.get("cc_rounds") or {}):
        failures.append(
            "BENCH_stress.json: cc_rounds lacks knn_s100 (VERDICT r14 #3) "
            "— the O(log n) step series is unmeasured at 2 M nodes")
    # r14: the sparse-retrieval row rides the full uniform span like its
    # tfidf sibling (two hash aggs + broadcast probe join → e_time ≈ 1).
    rows("text_search_bm25", min_scales=4)
    # r13 (VERDICT r12 #1): the components family priced. The linear
    # arm rides the relative discipline (≤ its co-measured
    # knn_graph_nnd edge source + 0.3); the exact arm anchors at s1;
    # graph_ppr spans the parent pagerank's range and must match its
    # growth class (the seeded terms are per-node literals). The CC
    # round series for the thresholded kNN graph (cc_rounds "knn_*",
    # recorded beside the near-dup series) must stay single-digit —
    # the r13 pointer-jump arm bounds rounds at ~ccJumpAfter +
    # log₂(diameter), so a growing series means the jump branch was
    # lost (the planted-chain test's regression in miniature).
    rows("graph_components_nnd", min_scales=3)
    _cce = q.get("graph_components_nnd", {}).get("e_time")
    if _cce is not None and _nn is not None and _cce > _nn + 0.3:
        failures.append(
            f"BENCH_stress.json: graph_components_nnd e_time {_cce} grows "
            f"faster than its knn_graph_nnd edge source {_nn} + 0.3 — "
            f"the CC fixpoint stopped being one join+agg per bounded round")
    rows("graph_components_knn", min_scales=1)
    rows("graph_ppr", min_scales=4)
    _ppre = q.get("graph_ppr", {}).get("e_time")
    if _ppre is not None and _pe is not None and _ppre > _pe + 0.3:
        failures.append(
            f"BENCH_stress.json: graph_ppr e_time {_ppre} grows faster "
            f"than graph_pagerank {_pe} + 0.3 — the seeded variant "
            f"acquired a growth class its parent lacks")
    knn_cc = {k: v for k, v in (stress.get("cc_rounds") or {}).items()
              if k.startswith("knn_") or k.startswith("cp_")}
    if not any(k.startswith("knn_") for k in knn_cc):
        failures.append(
            "BENCH_stress.json: cc_rounds has no knn_* series — the "
            "thresholded-kNN-graph step counts (VERDICT r12 #1) are "
            "unrecorded; re-run the sweep at HEAD")
    # The SV closure+hook arm bounds total steps near ccJumpAfter +
    # O(log n) regardless of diameter/id layout (measured 21 at s1,
    # 20k nodes; log₂ grows ~+5 to s30's 600k). 40 refutes any return
    # to the O(diameter) class without flapping on log growth. The
    # cp_* (co-purchase) series rides the same envelope.
    cc_big = {k: v for k, v in knn_cc.items() if v > 40}
    if cc_big:
        failures.append(
            f"BENCH_stress.json: kNN-graph CC step counts exceeded the "
            f"ccJumpAfter + O(log n) envelope (40): {cc_big} — the "
            f"Shiloach–Vishkin hook/closure arm broke")
    # r13 (VERDICT r12 #5): diversity selection's s30 point beside its
    # edge source's (the relative fit above now spans s1–s30).
    if "s30" not in q.get("graph_diversity_select_nnd", {}):
        failures.append(
            "BENCH_stress.json: graph_diversity_select_nnd lacks its s30 "
            "point (VERDICT r12 #5) — re-run the sweep with "
            "nndBuildScales=4 covering it")
    # r12 (VERDICT r11 #8): the rerank join is broadcast-PINNED on the
    # bounded survivor frame — at s30 the optimizer's estimate used to
    # cross the threshold and shuffle the whole embedding table into a
    # SortMergeJoin (7.2 → 21.3 s). The strategy field is the witness;
    # ann_pq carries the identical pin (same rerank shape), so both
    # rows are gated (r12 review pass).
    for pinned in ("ann_ivfpq", "ann_pq"):
        for sc, v in q.get(pinned, {}).items():
            if isinstance(v, dict) and \
                    "SortMergeJoin" in (v.get("strategy") or ""):
                failures.append(
                    f"BENCH_stress.json: {pinned} at {sc} recorded "
                    f"'{v['strategy']}' — the rerank broadcast pin was "
                    f"lost (VERDICT r11 #8)")
    # r11 (VERDICT r10 #3): recall at the DEFAULT nprobe geometry
    # (≈ 1.5·√nlist, GROWS with the corpus) measured beside the
    # fixed-nprobe curve: ≥ 0.8 (8000 bp) at the smallest scale, and at
    # every other scale at least the fixed-p16 point (the default
    # geometry must beat the curve's top fixed knob once nlist > 16·…
    # — that is the whole defense for why falling fixed-nprobe
    # mid-curve points are not a recall regression).
    dflt = rows("ann_ivfpq_recall_default", min_scales=2)
    d_pts = {k: v.get("rows", -1) for k, v in dflt.items()
             if re.fullmatch(r"s\d+", k)}  # drop sec_per_mrow etc.
    if d_pts:
        # numeric scale order — lexicographic would put s10 before s3
        smallest = sorted(d_pts, key=lambda s: int(s[1:]))[0]
        if d_pts[smallest] < 8000:
            failures.append(
                f"BENCH_stress.json: ann_ivfpq_recall_default at {smallest} "
                f"= {d_pts[smallest]} bp < the 8000 bp floor")
    for sc, bp in d_pts.items():
        p16 = q.get("ann_ivfpq_recall_p16", {}).get(sc, {}).get("rows", -1)
        if p16 >= 0 and bp >= 0 and bp + 200 < p16:
            failures.append(
                f"BENCH_stress.json: ann_ivfpq_recall_default {bp} bp at "
                f"{sc} is below the fixed-p16 point {p16} (beyond 200 bp "
                f"tolerance) — the growing-nprobe defense fails")
    np_pts = {np: rows(f"ann_ivfpq_recall_p{np}", min_scales=1)
              for np in (2, 4, 8, 16)}
    # The curve's claim is the KNOB, not an absolute: recall must rise
    # with nprobe at every measured scale, modulo a 200-bp tolerance —
    # IVF-PQ recall is not strictly monotone (extra probed buckets add
    # ADC distractors that can push a true neighbor past the fixed
    # rerank width), so a hard a>b gate would flap on legitimate
    # 20-bp dips. Scales are the UNION across the four rows, and a
    # scale present in one row but missing in another is itself a
    # failure — a half-recorded curve must not pass silently.
    np_scales = set()
    for pts in np_pts.values():
        np_scales |= {k for k, v in pts.items()
                      if isinstance(v, dict) and "rows" in v}
    for scale in sorted(np_scales):
        series = [np_pts[np].get(scale, {}).get("rows", -1)
                  for np in (2, 4, 8, 16)]
        if any(r < 0 for r in series):
            failures.append(
                f"BENCH_stress.json: ann_ivfpq nprobe curve incomplete "
                f"at {scale}: {series}")
        elif any(a > b + 200 for a, b in zip(series, series[1:])):
            failures.append(
                f"BENCH_stress.json: ann_ivfpq nprobe curve not "
                f"monotone (>200 bp dip) at {scale}: {series}")
    p16_low = {k: v["rows"] for k, v in np_pts[16].items()
               if isinstance(v, dict) and v.get("rows", -1) >= 0
               and v["rows"] < 6000}
    if p16_low:
        failures.append(
            f"BENCH_stress.json: ann_ivfpq_recall_p16 below the 0.6 floor "
            f"(basis points): {p16_low}")

# --- bench.json: headline + heavy tier -------------------------------
# Gated on RAW seconds. Host-normalizing factors are gone: in the r17
# and r18 driver runs they credited pipeline_curate's duplicated work
# (597.7 and 710.2 executor task-s, vs ~28 task-s at 8 cores) to host
# contention and let the tier under its budget. The per-row task
# seconds name the row that did the work instead.
bench = load("bench.json")
if bench is not None:
    # ADVICE r7: value sums only the queries that ran, so a run with
    # failures is not comparable across rounds and is not canonical.
    if bench.get("complete") is False:
        failures.append("bench.json: complete=false (run had failures)")
    if bench.get("failed"):
        failures.append(f"bench.json: failed queries {bench['failed']}")
    if bench.get("heavy_failed"):
        failures.append(f"bench.json: heavy failures {bench['heavy_failed']}")
    total, budget = bench.get("heavy_total"), bench.get("heavy_budget_sec")
    if total is None or budget is None:
        failures.append("bench.json: heavy tier absent (heavy_total/"
                        "heavy_budget_sec) — Bench.scala docstring cites it")
    elif total > budget:
        # VERDICT r9 item 3 + r10 #2: a breach must self-attribute — the
        # row that spent the most task-seconds, and the ordered
        # spill/gc, cpu_share, plan fingerprint.
        top = heaviest_task_row(bench)
        attrib = heavy_breach_fingerprint(bench)
        failures.append(
            f"bench.json: heavy_total {total:.1f}s breaches its "
            f"{budget:.0f}s budget — an arm regressed (Bench.scala "
            f"contract)" + (f"; most work: {top}" if top else "")
            + (f" [{attrib}]" if attrib else ""))
    # r10: the heavy tier must carry its own gc/spill observability
    # (VERDICT r9 item 1) — a bench.json without them cannot attribute
    # the next breach and is not a canonical artifact.
    for key in ("heavy_gc_sec", "heavy_spill_bytes", "heavy_task_sec",
                "heavy_gc_total"):
        if key not in bench:
            failures.append(
                f"bench.json: '{key}' absent — heavy tier lacks the "
                f"gc/spill observability VERDICT r9 item 1 requires")

# --- bench_all.json: full-registry coverage --------------------------
# VERDICT r8 item 1's second half: the committed full sweep must cover
# the registry INCLUDING the newest rows, with zero failures — a stale
# bench_all silently under-reports coverage.
ball = load("bench_all.json")
if ball is not None:
    if ball.get("failed"):
        failures.append(f"bench_all.json: failed queries {ball['failed']}")
    if ball.get("complete") is False:
        failures.append("bench_all.json: complete=false")
    qs = ball.get("queries", {})
    for newest in ("dedup_semantic", "curate_dsir", "dedup_semantic_verdict",
                   "pipeline_pack", "embed_pq", "ann_pq",
                   "ann_ivfpq", "text_repetition", "layout_zorder",
                   "sample_weighted", "event_attribution",
                   "curate_temperature_mix", "agg_hll_partitioned",
                   "ann_mrl", "event_holt", "dedup_spantrim",
                   "text_quality_gate", "knn_graph", "knn_graph_blocked",
                   "knn_graph_refine", "knn_graph_blocked_verdict",
                   "knn_graph_nnd", "dedup_near_verdicts",
                   "graph_pagerank", "graph_pagerank_knn",
                   "graph_pagerank_nnd", "graph_triangles",
                   "graph_diversity_select", "graph_diversity_select_nnd",
                   "graph_components_knn", "graph_components_nnd",
                   "graph_ppr", "text_bm25", "graph_components_copurchase",
                   "text_search_bm25", "graph_pagerank_copurchase",
                   "graph_ppr_weighted", "graph_bfs_seeds",
                   "ann_ivf_verdict",
                   "minhash_lsh_verdict", "simhash_pairs_verdict",
                   "embed_lshpairs_verdict",
                   # r17 rows
                   "text_cms_topk_verdict", "ann_pq_verdict",
                   "decontaminate_semantic", "layout_compact",
                   "pipeline_shard_plan"):
        if newest not in qs:
            failures.append(
                f"bench_all.json: registry row '{newest}' absent — sweep "
                f"predates the op (re-run Bench --all at HEAD)")
    # VERDICT r11 #5: the full-registry sweep grew +52% in one round
    # (232 → 353 s raw); give it an explicit envelope so growth is a
    # deliberate re-budget, not silent drift toward a 10-minute sweep.
    # Gated on the raw total, like the heavy tier. r16 deliberate
    # re-budget 500 → 575: the registry grew 169 → 179 rows since the
    # 500 s number was set (r13–r16 added the graph family's composed
    # arms and six verdict rows, each individually priced in
    # bench_all), and the r16 idle raw totals read 476–500 s — the old
    # envelope's headroom was gone on registry GROWTH, not row
    # regression. 575 ≈ the r16 idle sweep + ~15% window headroom;
    # justification sentence mirrored in SURVEY round 16. Raising this
    # number requires a sentence in SURVEY justifying what was added —
    # that is the point of the gate.
    bt = ball.get("value")
    if bt is None:
        failures.append(
            "bench_all.json: value absent — the sweep envelope gate "
            "(VERDICT r11 #5) needs it")
    elif bt > 575.0:
        failures.append(
            f"bench_all.json: total {bt:.0f}s breaches the 575 s envelope "
            f"(VERDICT r11 #5) — a row regressed or the registry outgrew "
            f"the budget; re-budget deliberately")

if failures:
    print("ARTIFACT CHECK FAILED:")
    for f in failures:
        print(f"  - {f}")
    sys.exit(1)
print("artifact check: all cited rows present")
