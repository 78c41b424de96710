#!/usr/bin/env python3
"""Perf regression guard (VERDICT r4 "Next round" #6).

Runs graft.BenchProfile on the expensive-query set in the BENCH regime
(sf0.1, 8 cpus, persist pin), takes each query's steady-state time
(min of reps 2..N — rep 1 carries Catalyst/Janino/AQE one-shot cost),
and fails if any query regresses more than 30% AND more than 0.15 s
absolute over scripts/bench_reference.json. The absolute floor keeps
sub-0.3 s floor-dominated queries from flagging on scheduler noise.

Usage:
  python3 scripts/bench_guard.py           # check (exit 1 on regression)
  python3 scripts/bench_guard.py --update  # re-baseline the reference
  python3 scripts/bench_guard.py --scale [--update]
      # AT-SCALE mode (VERDICT r7 ask #6): re-run the heavy family on
      # the deterministic Heaps 10x corpus (regenerated into /tmp/
      # heaps_10x via gen_scale.py if absent — seed-fixed, so the
      # corpus is bit-identical across rounds) against
      # scripts/bench_reference_10x.json. This catches the regression
      # class sf0.1 cannot see: a pin silently dropped, a join
      # re-planned superlinear — visible only when the data is big
      # enough for the plan shape to dominate the scheduling floor.
  python3 scripts/bench_guard.py --scale --only d02,d06,s06
      # SPOT-CHECK: guard only the named queries against the committed
      # reference. The median-scale normalization then runs over just
      # those queries, so pick a cross-family handful (>= 3) — meant
      # for a same-day sanity pass when a second full pass buys
      # nothing.

Run it before committing any change touching query plans; the driver
can run it per-round. Re-baseline deliberately after a judged perf
win, never to paper over a regression.
"""
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# --scale = Heaps 10x (the per-commit at-scale gate)
SCALE = "--scale" in sys.argv
REF_PATH = os.path.join(
    REPO, "scripts",
    "bench_reference_10x.json" if SCALE
    else "bench_reference.json")
SCALE_DIR = os.environ.get("GRAFT_SCALE_DIR",
                           "/tmp/heaps_10x")
# at-scale runs tolerate more relative noise (fewer, longer queries;
# one I/O burst shifts a 3 s query further than a 0.3 s one) but
# demand a bigger absolute move before flagging
REL_TOL = 0.40 if SCALE else 0.30
ABS_TOL = 0.50 if SCALE else 0.15
# 5 reps (steady state = min of reps 2..5): the round-6 sandbox showed
# transient I/O-wait bursts (~1 s, loadavg 2-3 on an idle box) that can
# cover BOTH timed reps of a 3-rep profile and fake a 2x regression on
# a random query; two extra reps make the min burst-resistant.
REPS = int(os.environ.get("GRAFT_GUARD_REPS", "5"))


def ensure_scale_corpus():
    """Regenerate the Heaps 10x corpus if /tmp was wiped — gen_scale.py
    is seed-fixed, so the regenerated parquet is identical to the one
    the reference was recorded on."""
    if os.path.isfile(os.path.join(SCALE_DIR, "documents.parquet")):
        return
    print(f"generating {SCALE_DIR} (Heaps 10x, "
          "deterministic seed)...")
    subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "gen_scale.py"),
         SCALE_DIR, "10", "heaps"],
        check=True, cwd=REPO)


def run_profile(queries):
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=SCALE_DIR if SCALE
               else "/root/testdata/sf0.1",
               SPARK_GRAFT_CPUS="8",
               SPARK_GRAFT_REPS=str(REPS))
    cmd = ["sbt", "-batch",
           f"runMain graft.BenchProfile {','.join(sorted(queries))}"]
    limit = 3600 if SCALE else 1800
    try:
        proc = subprocess.run(cmd, cwd=REPO, env=env, capture_output=True,
                              text=True, timeout=limit)
    except subprocess.TimeoutExpired:
        print(f"FAIL: BenchProfile timed out after {limit} s")
        sys.exit(1)
    if proc.returncode != 0:
        tail = "\n".join((proc.stderr or proc.stdout or "").splitlines()[-15:])
        print(f"FAIL: sbt exited {proc.returncode}\n{tail}")
        sys.exit(1)
    out = proc.stdout
    got = {}
    for m in re.finditer(r"PROFILE (\S+)\s+([\d. ]+)", out):
        times = [float(t) for t in m.group(2).split()]
        got[m.group(1)] = min(times[1:]) if len(times) > 1 else times[0]
    return got


# The 29-query heavy family of the Heaps campaign tables
# (COVERAGE.md): --update bootstraps a MISSING reference from this
# list instead of crashing at open(REF_PATH) (ADVICE r10 — a
# reference must be creatable by the tool that consumes it;
# scripts/profile_to_reference.py over a campaign log is the other
# route). A present reference always wins — its committed query list
# is the guard's contract.
HEAVY_FAMILY = [
    "d01_exact_dedup", "d02_ngram_jaccard", "d03_minhash_lsh",
    "d04_simhash", "d05_fingerprint_groups", "d06_embedding_neardup",
    "d07_components", "d08_cross_source_dups", "d09_lsh_quality",
    "d10_dedup_apply", "d12_simhash_wide", "d13_embedding_neardup_wide",
    "d14_semantic_dedup", "d16_ensemble_dups", "d17_delta_dedup",
    "s06_decontamination", "s11_curation_report",
    "s16_decontaminate_apply", "s17_datasheet", "s19_bloom_decontaminate",
    "t10_unigram_surprisal", "t15_bpe_merges", "t16_cms_topfreq",
    "v14_retrieval_metrics", "v16_knn_graph", "v17_ivfpq_rerank",
    "v18_refine_recall", "v19_hard_negatives", "v20_triplet_mine",
]


def load_ref_doc():
    if os.path.exists(REF_PATH):
        with open(REF_PATH) as f:
            return json.load(f)
    if "--update" not in sys.argv:
        print(f"FAIL: {REF_PATH} missing — bootstrap it with --update "
              "(runs the heavy family and records the reference) or "
              "write it from a campaign log via "
              "scripts/profile_to_reference.py")
        sys.exit(1)
    import time
    return {
        "_recorded": time.strftime("%Y-%m-%d") + " (bootstrapped)",
        "_regime": (f"Heaps 10x corpus ({SCALE_DIR}, "
                    "gen_scale.py seed-fixed), 8 cpus, persist pin, "
                    f"{REPS}-rep steady state"),
        "queries": {q: 0.0 for q in HEAVY_FAMILY},
    }


def parse_only():
    """--only a,b,c — guard a subset of the committed reference."""
    if "--only" not in sys.argv:
        return None
    if "--update" in sys.argv:
        print("FAIL: --only with --update would record a PARTIAL "
              "reference; re-baseline runs the full guarded set")
        sys.exit(1)
    i = sys.argv.index("--only")
    if i + 1 >= len(sys.argv):
        print("FAIL: --only needs a comma-separated query list")
        sys.exit(1)
    names = [q for q in sys.argv[i + 1].split(",") if q]
    if len(names) < 3:
        # the median-scale normalization degenerates below 3 samples:
        # with 1-2 queries a real regression IS the median and
        # silently re-scales itself green
        print("FAIL: --only needs >= 3 queries (median normalization)")
        sys.exit(1)
    return names


def main():
    if SCALE:
        ensure_scale_corpus()
    only = parse_only()
    doc = load_ref_doc()
    ref = doc["queries"]
    if only:
        unknown = sorted(set(only) - set(ref))
        if unknown:
            print(f"FAIL: --only names not in {REF_PATH}: {unknown}")
            sys.exit(1)
        ref = {q: ref[q] for q in only}
        print(f"spot-check: {len(ref)}/{len(doc['queries'])} "
              f"reference queries ({', '.join(sorted(ref))})")
    got = run_profile(ref.keys())
    missing = sorted(set(ref) - set(got))
    if missing:
        print(f"FAIL: no profile output for {missing}")
        sys.exit(1)
    if "--update" in sys.argv:
        doc["queries"] = {k: round(v, 3) for k, v in sorted(got.items())}
        with open(REF_PATH, "w") as f:
            json.dump(doc, f, indent=2)
            f.write("\n")
        print(f"re-baselined {len(got)} queries -> {REF_PATH}")
        return
    # Environment normalization: the reference was recorded on ONE
    # machine state, and sandbox rounds differ by 2-3x uniformly (a
    # controlled round-6 experiment re-profiled the reference's own
    # commit and reproduced the "regressed" times exactly — the code
    # was identical, the machine was slower). A UNIFORM shift is not a
    # regression, so each query is judged against ref * scale where
    # scale = median(got/ref) over all guarded queries (clamped >= 1:
    # a faster machine must not mask a real single-query regression).
    # A genuine plan regression moves ONE query off the pack and still
    # flags; a slow sandbox moves the median and flags nothing.
    ratios = sorted(got[n] / ref[n] for n in ref)
    scale = max(1.0, ratios[len(ratios) // 2])
    if scale > 1.05:
        print(f"environment scale: x{scale:.2f} "
              f"(median got/ref over {len(ref)} queries; "
              f"thresholds scaled accordingly)")
    def judge(times):
        bad = []
        for name in sorted(ref):
            r, g = ref[name], times[name]
            flag = (g > r * scale * (1 + REL_TOL)
                    and g > r * scale + ABS_TOL)
            status = "REGRESSED" if flag else "ok"
            print(f"{status:9s} {name:28s} ref={r:6.3f}  got={g:6.3f}")
            if flag:
                bad.append(name)
        return bad

    bad = judge(got)
    if bad and len(bad) <= 4:
        # A full profile takes minutes; a transient I/O-wait burst
        # covering one query's timed reps fakes a regression on a
        # RANDOM query (observed: consecutive loaded runs each
        # flagged a different one). A real plan regression is
        # deterministic — so re-run the WHOLE profile (isolating the
        # flagged queries would under-warm the relations they share
        # with other queries: the pin provider must run first, as it
        # does in the full sorted order) and fail only on queries
        # regressed in BOTH passes. A query missing from the retry
        # output counts as still-regressed, never a KeyError.
        print(f"\n{len(bad)} flagged — re-running the full profile "
              "(transient-burst check; real regressions repeat)...")
        retry = run_profile(ref.keys())
        still = [n for n in bad
                 if retry.get(n, float("inf")) > ref[n] * scale * (1 + REL_TOL)
                 and retry.get(n, float("inf")) > ref[n] * scale + ABS_TOL]
        for n in bad:
            rv = retry.get(n)
            print(f"{'REGRESSED' if n in still else 'ok':9s} {n:28s} "
                  f"ref={ref[n]:6.3f}  "
                  f"retry={'missing' if rv is None else f'{rv:6.3f}'}")
        bad = still
    if bad and len(bad) <= 4:
        # Third stage: the full-profile retry clears RANDOM bursts but
        # not the systematic kind — with 60+ pinned relations in one
        # JVM, the cache-heaviest family's in-suite reps inflate from
        # eviction churn in BOTH passes while the median scale (set by
        # the 50+ light queries) doesn't move (observed: the d-family
        # flagging at 1.6-2x in-suite while its ISOLATED steady states
        # sit at the uniform machine scale). Isolated timing is the
        # lower-noise estimator and a real plan regression is
        # data-path work that shows up isolated too — so profile just
        # the surviving flags in a fresh JVM. ADVICE r8: isolation may
        # EXCUSE only the documented cache-heavy pin families (d*/v*
        # — the multi-pin dedup/vector queries whose in-suite reps
        # churn each other's caches); for every other query the
        # isolated reading is printed as DIAGNOSTIC and the flag
        # stands — a suite-regime slowdown there is a real finding,
        # not cache pressure. GRAFT_GUARD_ISOLATE_ALL=1 restores the
        # old excuse-everything behavior for manual triage.
        print(f"\n{len(bad)} still flagged — isolated re-profile "
              "(cache-pressure check; plan regressions survive "
              "isolation)...")
        iso = run_profile(bad)
        excusable = (lambda n: True) if \
            os.environ.get("GRAFT_GUARD_ISOLATE_ALL") == "1" else \
            (lambda n: n[0] in ("d", "v"))
        still = [n for n in bad
                 if not excusable(n)
                 or (iso.get(n, float("inf")) > ref[n] * scale * (1 + REL_TOL)
                     and iso.get(n, float("inf")) > ref[n] * scale + ABS_TOL)]
        for n in bad:
            rv = iso.get(n)
            iso_ok = (rv is not None
                      and not (rv > ref[n] * scale * (1 + REL_TOL)
                               and rv > ref[n] * scale + ABS_TOL))
            tag = "ok" if n not in still else "REGRESSED"
            note = "" if excusable(n) or not iso_ok else \
                " (isolated ok, but not cache-heavy: flag stands)"
            print(f"{tag:9s} {n:28s} ref={ref[n]:6.3f}  "
                  f"isolated={'missing' if rv is None else f'{rv:6.3f}'}"
                  f"{note}")
        bad = still
    if bad:
        print(f"\nFAIL: {len(bad)} quer{'y' if len(bad) == 1 else 'ies'} "
              f"regressed >{int(REL_TOL * 100)}% beyond the x{scale:.2f} "
              f"environment scale: {', '.join(bad)}")
        sys.exit(1)
    print(f"\nOK: {len(ref)} queries within {int(REL_TOL * 100)}% of "
          f"reference (environment scale x{scale:.2f})")


if __name__ == "__main__":
    main()
