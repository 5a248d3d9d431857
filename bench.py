"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

It is also the one query timer; each query's time is its minimum over
$DOT_SPARK_BENCH_ROUNDS interleaved rounds (default 3):

    python bench.py [query ...]   # the named queries (default: HEADLINE)
    python bench.py --all         # every registered query
    python bench.py --ab REF      # interleaved A/B against a git ref

A query's time is its builder plus its sink: one timed region holds
the `QUERIES[name](spark, sf_dir)` call, which for iterative queries
runs Spark jobs on the driver while building, and the "noop" write
that executes the whole returned plan (count() alone would let
Catalyst prune work).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dot_spark import get_spark
from dot_spark.queries import QUERIES

# Headline set: the operators that dominate real pipeline cost —
# window dedup, the big parent-child join, group aggregation,
# explode fan-out, and the scan with pushdown.
HEADLINE = [
    "w1_dedup_keep_latest",
    "j5_parent_child_join",
    "j7_star_join_rollup",
    "j8_asof_join",
    "a9_hypertable_rollup",
    "a3_conditional_agg",
    "n2_explode_tokens",
    "s1_scan_projection",
    "n5_sticky_carry",
    "a5_collect_sorted_list",
    # training-data pipeline extensions
    "dd1_exact_dedup",
    "dd2_minhash_lsh_candidates",
    "dd3_simhash",
    # dd4b (stop-shingle capped) is the 100 TB path; the unguarded
    # exact dd4 stays registered as the gold standard but is not the
    # headline (a boilerplate-heavy corpus makes its df² blow up)
    "dd4b_ngram_jaccard_capped",
    # dd5b (bucketed equi-join) is the 100 TB path; brute-force dd5
    # stays registered as the gold standard but is not the headline
    "dd5b_bucketed_neardup",
    "dd6_decontamination",
    # chunk-granularity (passage) dedup
    "dd9_chunk_dedup",
    # character-granularity substring-span dedup: the
    # window-fingerprint explode is the highest-volume dedup stage —
    # a lost spread/partial-agg shows up here first
    "dd14_substring_spans",
    # content-defined chunking: boundary hashing is an
    # O(tokens x window) codegen pass and first-occurrence runs as a
    # window min inside the single chunk-hash exchange — a regression
    # to the join-back shape (2 scans) shows up here as wall time
    "dd16_cdc_chunks",
    "t2_quality_score",
    "t4_fingerprint",
    "t9_tfidf_topterms",
    "w6_sessionize",
    "ss1_cosine_topk",
    "ss2_ivf_topk",
    # classification over the whole run table
    "c1_classify_runs",
    # native session windows (stateful-agg machinery), gap-fill
    # grid+LOCF (sequence explode + carry window), and the
    # prefix-sum corpus shuffle
    "st8_session_window",
    "a14_gapfill_locf",
    "p15_corpus_shuffle",
    # the chain-join top-k, cohort retention, and the mixture
    # resampler
    "j17_multihop_topk",
    "a22_cohort_retention",
    "p18_mixture_resample",
    # the iterative heavies. Plan pins catch SHAPE regressions, but a
    # lost persist inside an iterative loop only surfaces as wall
    # time — so the loops themselves are bench-tracked: PageRank (g1,
    # rank-table rounds), distributed BPE training (t13, merge rounds
    # over the word vocab), and the SemDeDup composition (pl9, dd8
    # clusters ∘ dd5b buckets).
    "g1_pagerank",
    "t13_bpe_merges",
    # the batched trainer (4 candidate-window rounds for 16 merges
    # instead of 16 argmax rounds for 4) — the 32k-merge path; a lost
    # checkpoint or a candidate window that stops pruning shows up
    # here as wall time
    "t13b_bpe_merges_batched",
    "pl9_semdedup",
    # multimodal ingest pass: the decode+hash Python stage is the
    # family's scale cost — track it
    "mm6_image_phash",
    # storage-layout rewrite: the 256-bucket distributed prefix rank
    # over the Morton key is the clustering rewrite's whole cost — a
    # lost bucket spread would funnel it to one task and only wall
    # time would notice
    "p20_zorder_layout",
    # the corpus-filter trio. t25 must stay a zero-exchange
    # scan-fused pass (a regression to a shuffle shows in the plan
    # pin, its codegen cost shows here); t24/t26 track the
    # shared-explode LM scoring + bounded-state percentile cut and
    # the 256-bucket DSIR reweighting respectively.
    "t24_perplexity_prune",
    "t25_hashed_linear_quality",
    "t26_dsir_importance",
    # interpolated Kneser-Ney scoring — the bigram-type table's single
    # materialization feeding four consumers is the cost center; a
    # lost checkpoint re-runs the pair explode per branch and only
    # wall time notices
    "t27_kneser_ney_score",
    # the end-to-end corpus build is the engine's user story; a
    # pushdown pathology once kept it at ~52 s outside the headline,
    # unnoticed, so it is tracked here
    "pl7_corpus_build_pipeline",
    # pl17 (the composed soft corpus build) is deliberately NOT a
    # headline row: at several seconds at sf0.1 it would dominate the
    # suite total the way dd8 would; its scaling curve is
    # `tools/scaling_receipt.py pl17_soft_corpus_build`.
]


def _box_snapshot() -> dict:
    """Load average + cumulative CPU steal/total ticks at this
    instant. The box sees co-tenant CPU steal; recording the box
    state INSIDE the artifact lets a reader attribute a slow round to
    load instead of re-running interleaved protocols."""
    snap: dict = {}
    try:
        with open("/proc/loadavg") as f:
            snap["loadavg"] = [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        pass
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()  # "cpu user nice sys idle iowait irq softirq steal ..."
        ticks = [int(x) for x in parts[1:]]
        snap["steal_ticks"] = ticks[7] if len(ticks) > 7 else 0
        snap["total_ticks"] = sum(ticks)
    except (OSError, ValueError, IndexError):
        pass
    return snap


def _steal_pct(before: dict, after: dict) -> float | None:
    try:
        dt = after["total_ticks"] - before["total_ticks"]
        ds = after["steal_ticks"] - before["steal_ticks"]
        return round(100.0 * ds / dt, 2) if dt > 0 else None
    except KeyError:
        return None


def _run_ab(ref: str) -> None:
    """Interleaved same-box A/B vs another committed tree.

    Protocol: check `ref` out into a throwaway git worktree, then run
    the bench suite in ALTERNATING subprocesses (HEAD, ref, ref,
    HEAD, HEAD, ref, ... — the leader flips each pair so slow host
    drift cancels instead of loading one side), symmetric sample
    counts, per-query MIN across a side's processes, and a
    common-subset ratio over queries BOTH trees ran clean. A pair
    either of whose runs saw >0.5% CPU steal is re-run once (bounded
    by DOT_SPARK_BENCH_MAX_EXTRA pairs) — both sides re-run together
    so counts stay symmetric. Child processes run the normal bench
    entrypoint with DOT_SPARK_BENCH_ROUNDS=2 / MAX_EXTRA=0 (steal
    handling lives up here where symmetry can be preserved), so the
    compared numbers are exactly what the per-round driver bench
    measures.

    Prints ONE JSON line with an "ab" block: per-query {head, ref}
    mins, the totals and ratio over those queries, per-run steal
    telemetry, and the run order — a machine-readable noise
    adjudication receipt.
    """
    import shutil
    import subprocess
    import tempfile

    here = os.path.dirname(os.path.abspath(__file__))
    sha = subprocess.run(
        ["git", "rev-parse", "--short", ref],
        cwd=here, capture_output=True, text=True, check=True,
    ).stdout.strip()
    tree = os.path.join(tempfile.gettempdir(), f"dot_spark_ab_{sha}")
    # validate a cached tree before trusting it: an interrupted
    # `git worktree add` leaves a partial directory that would be
    # silently benchmarked as the ref side
    if os.path.isdir(tree):
        probe = subprocess.run(
            ["git", "-C", tree, "rev-parse", "HEAD"],
            capture_output=True, text=True,
        )
        full = subprocess.run(
            ["git", "rev-parse", sha],
            cwd=here, capture_output=True, text=True, check=True,
        ).stdout.strip()
        if probe.returncode != 0 or probe.stdout.strip() != full:
            subprocess.run(
                ["git", "worktree", "remove", "--force", tree],
                cwd=here, capture_output=True, text=True,
            )
            shutil.rmtree(tree, ignore_errors=True)
    if not os.path.isdir(tree):
        subprocess.run(
            ["git", "worktree", "add", "--detach", tree, sha],
            cwd=here, capture_output=True, text=True, check=True,
        )

    env = dict(os.environ)
    env["DOT_SPARK_BENCH_ROUNDS"] = "2"
    env["DOT_SPARK_BENCH_MAX_EXTRA"] = "0"

    def one_run(side_dir: str) -> tuple[dict[str, float], float | None]:
        before = _box_snapshot()
        proc = subprocess.run(
            [sys.executable, os.path.join(side_dir, "bench.py")],
            cwd=side_dir, env=env, capture_output=True, text=True,
        )
        steal = _steal_pct(before, _box_snapshot())
        if proc.returncode != 0:
            raise RuntimeError(
                f"bench child in {side_dir} rc={proc.returncode}: "
                f"{proc.stderr[-500:]}"
            )
        # anchor on the bench result's known key — a bare "{" prefix
        # could match an unrelated JSON log line in the child output
        line = next(
            ln for ln in reversed(proc.stdout.splitlines())
            if ln.startswith("{") and '"queries"' in ln
        )
        q = json.loads(line)["queries"]
        return {k: v for k, v in q.items() if isinstance(v, (int, float))}, steal

    pairs = int(os.environ.get("DOT_SPARK_AB_PAIRS", "3"))
    max_extra = int(os.environ.get("DOT_SPARK_BENCH_MAX_EXTRA", "2"))
    best: dict[str, dict[str, float]] = {"head": {}, "ref": {}}
    steal_log: list[dict] = []
    order: list[str] = []
    planned, p, extra_used = pairs, 0, 0
    while p < planned:
        leader = "head" if p % 2 == 0 else "ref"
        trailer = "ref" if leader == "head" else "head"
        pair_steal = []
        for side in (leader, trailer):
            side_dir = here if side == "head" else tree
            q, steal = one_run(side_dir)
            for name, sec in q.items():
                cur = best[side].get(name)
                best[side][name] = sec if cur is None else min(cur, sec)
            order.append(side)
            steal_log.append({"side": side, "steal_pct": steal})
            pair_steal.append(steal)
        if (
            any(s is not None and s > 0.5 for s in pair_steal)
            and extra_used < max_extra
        ):
            planned += 1
            extra_used += 1
        p += 1

    common = sorted(set(best["head"]) & set(best["ref"]))
    head_total = round(sum(best["head"][n] for n in common), 3)
    ref_total = round(sum(best["ref"][n] for n in common), 3)
    print(
        json.dumps(
            {
                "metric": "dot_spark interleaved A/B",
                "unit": "sec",
                "ab": {
                    "ref": sha,
                    "ref_arg": ref,
                    "pairs_planned": pairs,
                    "pairs_run": planned,
                    "steal_retries": extra_used,
                    "child_rounds": int(env["DOT_SPARK_BENCH_ROUNDS"]),
                    "order": order,
                    "queries": {
                        n: {"head": best["head"][n], "ref": best["ref"][n]}
                        for n in common
                    },
                    "head_only": sorted(set(best["head"]) - set(best["ref"])),
                    "ref_only": sorted(set(best["ref"]) - set(best["head"])),
                    "totals": {
                        "n_queries": len(common),
                        "head_total": head_total,
                        "ref_total": ref_total,
                        "ratio_head_over_ref": (
                            round(head_total / ref_total, 3)
                            if ref_total else None
                        ),
                    },
                    "steal_pct_per_run": steal_log,
                },
            }
        )
    )


def main(argv: list[str] | None = None) -> None:
    args = sys.argv[1:] if argv is None else argv
    if len(args) >= 2 and args[0] == "--ab":
        _run_ab(args[1])
        return
    names = list(QUERIES) if args == ["--all"] else args or HEADLINE
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"bench.py: unknown query: {' '.join(unknown)}", file=sys.stderr)
        raise SystemExit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    spark = get_spark("dot_spark_bench")

    # JVM + codegen warmup on a trivial action so query timings
    # measure the engine, not startup.
    spark.range(1000).count()

    # INTERLEAVED rounds (q1..qN, q1..qN, ...), per-query min of 3:
    # the box sees intermittent multi-second CPU-steal windows from
    # co-tenants, and interleaving decorrelates a steal window from
    # any single query (back-to-back repeats would let one window
    # poison both samples of the same query). Round 1 additionally
    # pays plan compilation + JIT. The per-query min is the
    # steady-state engine cost — the number that extrapolates to a
    # real cluster.
    # Per-query failure isolation: one broken query (builder or sink)
    # must cost its own row (an "err" entry), never the whole
    # artifact.
    n_rounds = int(os.environ.get("DOT_SPARK_BENCH_ROUNDS", "3"))
    # STEAL-AWARE RETRY: a round that ran under non-trivial co-tenant
    # CPU steal (>0.5% of ticks) is a tainted sample — its times
    # measure the neighbors, not the engine. Each tainted round buys
    # ONE replacement round (bounded by DOT_SPARK_BENCH_MAX_EXTRA,
    # default 2, so a chronically noisy box still terminates); the
    # per-query min then draws from at least n_rounds clean-ish
    # samples instead of depending on driver-box luck. The artifact
    # records how many retries fired.
    max_extra = int(os.environ.get("DOT_SPARK_BENCH_MAX_EXTRA", "2"))
    best: dict[str, float] = {}
    errors: dict[str, str] = {}
    round_marks = [_box_snapshot()]  # box state before round 1
    planned, r = n_rounds, 0
    while r < planned:
        for name in names:
            if name in errors:
                continue
            try:
                t0 = time.time()
                df = QUERIES[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
            except Exception as exc:  # isolate: record and move on
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                best.pop(name, None)
                continue
            best[name] = min(best.get(name, dt), dt)
        round_marks.append(_box_snapshot())
        steal = _steal_pct(round_marks[-2], round_marks[-1])
        if steal is not None and steal > 0.5 and planned < n_rounds + max_extra:
            planned += 1
        r += 1
    timings: dict[str, object] = {n: round(best[n], 3) for n in names if n in best}
    for name, err in errors.items():
        timings[name] = {"err": err}

    total = round(sum(v for v in best.values()), 3)
    print(
        json.dumps(
            {
                "metric": "dot_spark headline suite runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "n": n_rounds,
                "n_rounds_run": planned,
                "steal_retries": planned - n_rounds,
                "n_errors": len(errors),
                # box-state telemetry: loadavg at the start and after
                # each interleaved round, plus per-round CPU-steal %.
                # A round whose steal_pct is non-trivial (>1-2%) or
                # whose loadavg exceeds the local core count explains a
                # slow min without any code change.
                "box": {
                    "loadavg": [m.get("loadavg") for m in round_marks],
                    "steal_pct_per_round": [
                        _steal_pct(round_marks[i], round_marks[i + 1])
                        for i in range(len(round_marks) - 1)
                    ],
                },
            }
        )
    )


if __name__ == "__main__":
    main()
