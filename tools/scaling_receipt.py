"""Scaling receipt: time registered queries on K-times upsampled data.

For each K, `upsample` writes a K-times copy of the tables in
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) into a throwaway
dir under the system temp dir, deleted afterwards unless --keep. The
named queries then run there through `bench.py` in a fresh process
(cold JVM, local[$SPARK_GRAFT_CPUS]), each timed as its minimum over
-n rounds: at N = the CPUs this process may run on for every K, and
also at max(1, N // 4) for the largest K. The last stdout line is one
JSON object with per-run seconds, `alpha` per query (t ~ K^alpha
between the smallest and largest K at N cores) and
`ratio_low_over_high` per query (low-core over high-core time at the
largest K; >> 1 means the query parallelizes at that scale).

Usage: python tools/scaling_receipt.py [-k K1,K2,...] [-n N] [--keep] [query ...]
Defaults: -k 1,4, -n 2, queries pl7, g1, dd14, pl9, t13b, t27.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dot_spark import get_spark
from dot_spark.queries import QUERIES
from dot_spark.sources.registry import TABLES, load_table

DEFAULT_QUERIES = [
    "pl7_corpus_build_pipeline",
    "g1_pagerank",
    "dd14_substring_spans",
    "pl9_semdedup",
    "t13b_bpe_merges_batched",
    "t27_kneser_ney_score",
]

# copied once, unchanged
SHARED_TABLES = ("region", "nation")

# Key columns offset per copy. The columns of one domain share one
# offset, so every join across tables stays inside a copy and its
# output grows exactly K-fold. embeddings.label is the cell key the
# bucketed near-dup queries pair within; offsetting it gives each copy
# its own cells, so their pair work grows K-fold, not K².
KEY_DOMAINS = (
    (("lineitem", "l_orderkey"), ("orders", "o_orderkey")),
    (("lineitem", "l_partkey"), ("part", "p_partkey")),
    (("lineitem", "l_suppkey"), ("supplier", "s_suppkey")),
    (("orders", "o_custkey"), ("customer", "c_custkey"), ("events", "user_id")),
    (("documents", "doc_id"),),
    (("embeddings", "vec_id"),),
    (("embeddings", "label"),),
    (("events", "event_id"),),
)


def _copy(df: DataFrame, table: str, i: int, spans: dict) -> DataFrame:
    """Copy i of one table: keys shifted by i key spans, and in
    documents every token suffixed with _i, so copies have disjoint
    shingle spaces and near-dup clusters never bridge copies
    (n_chars follows the suffixed text)."""
    text = F.regexp_replace("text", r"(\S+)", rf"$1_{i}")
    cols = []
    for field in df.schema.fields:
        c = F.col(field.name)
        if (table, field.name) in spans:
            c = c + F.lit(i * spans[(table, field.name)])
        elif (table, field.name) == ("documents", "text"):
            c = text
        elif (table, field.name) == ("documents", "n_chars"):
            c = F.length(text)
        cols.append(c.cast(field.dataType).alias(field.name))
    return df.select(cols)


def upsample(spark, src_dir: str, k: int, out_dir: str) -> None:
    """Write a K-times copy of every table in src_dir to out_dir, as
    a dir load_table reads like a testdata sf dir. Every column and
    its type is kept; region and nation are copied once, unchanged."""
    tables = {t: load_table(spark, t, src_dir) for t in TABLES}
    spans = {}
    for domain in KEY_DOMAINS:
        bounds = [tables[t].agg(F.min(c), F.max(c)).first() for t, c in domain]
        span = max(hi for _, hi in bounds) - min(lo for lo, _ in bounds) + 1
        spans.update({col: span for col in domain})
    os.makedirs(out_dir, exist_ok=True)
    for t, df in tables.items():
        copies = [_copy(df, t, i, spans) for i in range(1 if t in SHARED_TABLES else k)]
        reduce(DataFrame.unionByName, copies).write.mode("overwrite").parquet(
            f"{out_dir}/{t}.parquet"
        )


def _bench(names: list[str], sf_dir: str, cpus: int, rounds: int) -> dict:
    """Per-query seconds of one `bench.py` child run."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SF_DIR=sf_dir,
        DOT_SPARK_BENCH_ROUNDS=str(rounds),
    )
    out = subprocess.run(
        [sys.executable, os.path.join(here, "bench.py"), *names],
        capture_output=True, text=True, env=env, timeout=3600,
    )
    if out.returncode != 0:
        raise RuntimeError(
            f"bench.py at cpus={cpus} exited {out.returncode}:\n{out.stderr[-2000:]}"
        )
    secs = json.loads(out.stdout.strip().splitlines()[-1])["queries"]
    for q, sec in secs.items():
        if not isinstance(sec, float):
            raise RuntimeError(f"{q} at cpus={cpus}: {sec['err']}")
    return secs


def main(argv: list[str] | None = None) -> None:
    args = sys.argv[1:] if argv is None else list(argv)
    ks, rounds, keep = [1, 4], 2, False
    names: list[str] = []
    while args:
        a = args.pop(0)
        if a == "-k":
            ks = sorted({int(x) for x in args.pop(0).split(",")})
        elif a == "-n":
            rounds = int(args.pop(0))
        elif a == "--keep":
            keep = True
        else:
            names.append(a)
    names = names or DEFAULT_QUERIES
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"scaling_receipt.py: unknown query: {' '.join(unknown)}", file=sys.stderr)
        raise SystemExit(2)

    src_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    hi = len(os.sched_getaffinity(0))
    lo = max(1, hi // 4)
    tmp_root = tempfile.mkdtemp(prefix="sfup_")
    # bench.py reads its "sf" field off the dir name, so each upsample
    # dir is named like the source dir (K is in the result)
    up_dirs = {
        k: os.path.join(tmp_root, f"k{k}", os.path.basename(src_dir.rstrip("/")))
        for k in ks
    }
    times: dict[tuple[int, int], dict] = {}
    try:
        spark = get_spark("scaling_receipt_upsample")
        for k, up_dir in up_dirs.items():
            print(f"upsampling K={k} of {src_dir} -> {up_dir}", flush=True)
            upsample(spark, src_dir, k, up_dir)
        spark.stop()

        plan = [(k, hi) for k in ks] + ([(ks[-1], lo)] if lo != hi else [])
        for k, cpus in plan:
            times[(k, cpus)] = _bench(names, up_dirs[k], cpus, rounds)
            print(json.dumps({"k": k, "cpus": cpus, "seconds": times[(k, cpus)]}), flush=True)
    finally:
        if not keep:
            shutil.rmtree(tmp_root, ignore_errors=True)

    k_lo, k_hi = ks[0], ks[-1]
    alpha = {
        q: round(math.log(times[(k_hi, hi)][q] / times[(k_lo, hi)][q]) / math.log(k_hi / k_lo), 3)
        if k_hi > k_lo else None
        for q in names
    }
    ratio = {q: round(times[(k_hi, lo)][q] / times[(k_hi, hi)][q], 3) for q in names}
    print(json.dumps({
        "src_sf_dir": src_dir,
        "ks": ks,
        "rounds": rounds,
        "cpus": {"high": hi, "low": lo},
        "runs": [{"k": k, "cpus": c, "seconds": s} for (k, c), s in times.items()],
        "alpha": alpha,
        "ratio_low_over_high": ratio,
        "upsample_dir": tmp_root if keep else "deleted after run",
    }))


if __name__ == "__main__":
    main()
