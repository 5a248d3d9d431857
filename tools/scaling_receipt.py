"""One-shot larger-scale parallel-scaling receipt (r15 verdict item 8).

At sf0.1 every 8-vs-32-core bench ratio sits ~1: the suite is
fixed-overhead-bound and cannot demonstrate the 100 TB scaling story
(PERF_r14 scaling block). This tool converts the plan-shape claims
for the top cost rows into a measured low/high-core ratio on a
larger input:

1. Materialize a K-times upsampled copy of the four big tables
   (documents / lineitem / events / embeddings — the same
   honesty-preserving disjoint-copy constructions as
   tools/scale_sanity.py: token-suffixed shingle spaces, offset key
   spaces, so per-copy structure is preserved and work grows
   linearly) into a THROWAWAY dir under /tmp, with the small
   dimension tables copied verbatim. This is measurement INPUT for
   this tool only — nothing under /root/testdata is touched, nothing
   is read back by bench.py or the queries outside this receipt, and
   the dir is deleted afterwards unless --keep.
2. For each core count (N, max(1, N // 4)), N = the CPUs this
   process may run on, run the named queries in a FRESH subprocess
   (cold JVM, exactly the bench contract's local[$SPARK_GRAFT_CPUS])
   via `bench.py`, per-query min over N rounds.
3. Print the result JSON as the last stdout line: per-query seconds
   and the low/high-core ratio (ratio >> 1 = the query actually
   parallelizes at this scale).

Usage: python tools/scaling_receipt.py [-k K] [-n N] [--keep] [query ...]
Default queries: the top sf0.1 cost rows whose 100 TB story the r14
verdict asked to convert to measurement: pl7, g1, dd14, pl9, t13b, t27.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_QUERIES = [
    "pl7_corpus_build_pipeline",
    "g1_pagerank",
    "dd14_substring_spans",
    "pl9_semdedup",
    "t13b_bpe_merges_batched",
    "t27_kneser_ney_score",
]

SRC_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def materialize(k: int, out_dir: str) -> None:
    """Write the upsampled tables (and verbatim small tables) as one
    parquet file tree shaped like a testdata sf dir."""
    import tools.scale_sanity as ss
    from dot_spark import get_spark

    ss.SF_DIR = SRC_SF_DIR
    spark = get_spark("scaling_receipt_materialize")
    big = {
        "documents": ss.upsampled_docs(spark, k),
        "events": ss.upsampled_events(spark, k),
        "embeddings": ss.upsampled_embeddings(spark, k),
    }
    # the scale_sanity lineitem upsampler keeps only 3 key columns
    # (enough for the graph family); queries like dd14/t27 need the
    # full row — upsample all columns here with the same key offsets
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SRC_SF_DIR}/lineitem.parquet")
    mx = li.agg(
        F.max("l_orderkey"), F.max("l_partkey"), F.max("l_suppkey")
    ).first()
    o_off, p_off, s_off = mx[0] + 1, mx[1] + 1, mx[2] + 1
    copies = [
        li.select(
            (F.col("l_orderkey") + F.lit(i * o_off)).alias("l_orderkey"),
            (F.col("l_partkey") + F.lit(i * p_off)).alias("l_partkey"),
            (F.col("l_suppkey") + F.lit(i * s_off)).alias("l_suppkey"),
            *[c for c in li.columns if c not in ("l_orderkey", "l_partkey", "l_suppkey")],
        )
        for i in range(k)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    big["lineitem"] = out

    os.makedirs(out_dir, exist_ok=True)
    for name, df in big.items():
        df.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")
    for name in ("region", "nation", "customer", "supplier", "part", "orders"):
        src = f"{SRC_SF_DIR}/{name}.parquet"
        dst = f"{out_dir}/{name}.parquet"
        if os.path.isdir(src):
            shutil.copytree(src, dst, dirs_exist_ok=True)
        else:
            shutil.copyfile(src, dst)
    spark.stop()


def main() -> None:
    args = sys.argv[1:]
    k, n, keep = 4, 2, False
    names: list[str] = []
    while args:
        a = args.pop(0)
        if a == "-k":
            k = int(args.pop(0))
        elif a == "-n":
            n = int(args.pop(0))
        elif a == "--keep":
            keep = True
        else:
            names.append(a)
    names = names or DEFAULT_QUERIES

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp_root = tempfile.mkdtemp(prefix=f"sfup_k{k}_")
    # bench.py reads its "sf" field off the directory name, so the
    # upsample dir is named like the source dir (K is in the result)
    up_dir = os.path.join(tmp_root, os.path.basename(SRC_SF_DIR.rstrip("/")))
    print(f"materializing K={k} upsample of {SRC_SF_DIR} -> {up_dir}")
    materialize(k, up_dir)

    result: dict = {
        "k": k,
        "n_per_side": n,
        "src_sf_dir": SRC_SF_DIR,
        "queries": names,
        "per_cpus": {},
    }
    cores = len(os.sched_getaffinity(0))
    hi, lo = cores, max(1, cores // 4)
    try:
        for cpus in (hi, lo):
            env = dict(
                os.environ,
                SPARK_GRAFT_CPUS=str(cpus),
                SPARK_GRAFT_SF_DIR=up_dir,
                DOT_SPARK_BENCH_ROUNDS=str(n),
            )
            out = subprocess.run(
                [sys.executable, os.path.join(here, "bench.py"), *names],
                capture_output=True, text=True, env=env, timeout=3600,
            )
            if out.returncode != 0:
                raise RuntimeError(
                    f"bench.py at cpus={cpus} exited {out.returncode}:\n"
                    f"{out.stderr[-2000:]}"
                )
            line = out.stdout.strip().splitlines()[-1]
            secs = json.loads(line)["queries"]
            for q, sec in secs.items():
                if not isinstance(sec, float):
                    raise RuntimeError(f"{q} at cpus={cpus}: {sec['err']}")
            result["per_cpus"][str(cpus)] = secs
            print(f"cpus={cpus}: {line}")
        ratios = {}
        for q in names:
            t_hi = result["per_cpus"][str(hi)][q]
            t_lo = result["per_cpus"][str(lo)][q]
            ratios[q] = round(t_lo / t_hi, 3) if t_hi else None
        result["ratio_low_over_high"] = ratios
    finally:
        if not keep:
            shutil.rmtree(tmp_root, ignore_errors=True)
            result["upsample_dir"] = "deleted after run"
        else:
            result["upsample_dir"] = up_dir

    print(json.dumps(result))


if __name__ == "__main__":
    main()
