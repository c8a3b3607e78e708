"""Interleaved A/B of a ``similarity`` operator (``--op``, a key of
OPS; default semdedup) between two source trees.

    python tools/ab_semdedup.py --a NAME=OLD_TREE --b NAME=NEW_TREE \\
        --data NAME=DIR[:SHARD_ROWS] [--data ...] --reps 3 --out CERT.json

A tree is a checkout's root; DIR holds an ``embeddings.parquet``
(``tools/scale_data.py`` or ``perfbench/gen.py`` output). NAMEs label
the artifact's records.

Every rep runs one child process per tree, alternating which tree goes
first, on every data dir. A child runs in its tree, imports the
library from it, starts a local[nproc] session, and on each shard
(consecutive ``vec_id`` ranges of SHARD_ROWS rows; the whole file when
omitted) runs one untimed warm-up call, then times the operator plus
``collect()`` with its registry query's settings. It reports the
walls, the number of Spark jobs and SQL executions the timed calls
launched (``stage_profile.profile_call``), semdedup's dropped-row
count and a SHA-256 of the sorted rows. The artifact keeps every
child's record, the spin canary before and after it, each tree's
median wall per data dir and whether the row hashes of the two trees
agree.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

from stage_profile import profile_call


def _spin_ms() -> float:
    """Fixed-work CPU spin (the bench.py / perfbench canary)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    return round((time.perf_counter() - t0) * 1000, 1)


# (similarity, shard, shard rows) -> result; cosine_pairs_tiled is
# cosine_pairs with its broadcast gate shut
OPS = {
    "semdedup": lambda S, df, n: S.semdedup(
        df, "vec_id", "embedding", k=max(8, n // 256), tau=0.4, max_iter=3
    ),
    "cosine_pairs": lambda S, df, n: S.cosine_pairs(df, "vec_id", "embedding", 0.4),
    "cosine_pairs_tiled": lambda S, df, n: setattr(
        S, "COSINE_BROADCAST_MAX_BYTES", 0
    ) or S.cosine_pairs(df, "vec_id", "embedding", 0.4),
    "bucketed_cosine_pairs": lambda S, df, n: S.bucketed_cosine_pairs(
        df, "vec_id", "embedding", "label", 0.4
    ),
}


def child(tree: str, data: str, shard_rows: int, op: str) -> dict:
    sys.path.insert(0, tree)
    from pyspark.sql import functions as F

    import dataframe_spark as D
    from dataframe_spark.operators import similarity

    spark = D.get_spark("ab_semdedup")
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(os.path.join(data, "embeddings.parquet"))
    n = emb.count()
    size = shard_rows or n
    out = {"rows": n, "walls_s": [], "jobs": 0, "sql": 0, "dropped": 0}
    digest = hashlib.sha256()
    for lo in range(0, n, size):
        shard = emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + size))

        def call():
            res = OPS[op](similarity, shard, size)
            return sorted(tuple(r) for r in res.collect())

        call()
        spark.catalog.clearCache()
        rows, prof = profile_call(spark, call)
        out["walls_s"].append(prof["wall_s"])
        out["sql"] += prof["sql"]
        out["jobs"] += prof["jobs"]
        spark.catalog.clearCache()
        out["dropped"] += sum(1 for r in rows if r[2] is False)
        digest.update(repr(rows).encode())
    out["rows_sha256"] = digest.hexdigest()
    spark.stop()
    return out


def main(argv: list[str]) -> int:
    opts: dict[str, list[str]] = {}
    for flag, val in zip(argv[::2], argv[1::2]):
        opts.setdefault(flag.lstrip("-"), []).append(val)
    if "child" in opts:
        tree, data, shard_rows, op = opts["child"][0].split("|")
        print(json.dumps(child(tree, data, int(shard_rows), op)))
        return 0
    trees = dict(opts[side][0].split("=", 1) for side in ("a", "b"))
    datas = dict(spec.split("=", 1) for spec in opts["data"])
    reps = int(opts.get("reps", ["3"])[0])
    op = opts.get("op", ["semdedup"])[0]
    runs = []
    for rep in range(reps):
        for data, spec in datas.items():
            path, _, shard_rows = spec.partition(":")
            order = list(trees) if rep % 2 == 0 else list(trees)[::-1]
            for tree in order:
                spin_before = _spin_ms()
                # run in the tree: Python workers import the library
                # from the working directory before any PYTHONPATH entry
                res = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--child",
                     f"{os.path.abspath(trees[tree])}|{os.path.abspath(path)}|"
                     f"{shard_rows or 0}|{op}"],
                    capture_output=True, text=True, check=True,
                    cwd=trees[tree],
                )
                rec = json.loads(res.stdout.strip().splitlines()[-1])
                rec.update(rep=rep, tree=tree, data=data,
                           spin_ms=[spin_before, _spin_ms()])
                print(json.dumps(rec), flush=True)
                runs.append(rec)
    summary = {}
    for data in datas:
        mine = [r for r in runs if r["data"] == data]
        summary[data] = {
            tree: {
                "median_total_wall_s": round(statistics.median(
                    sum(r["walls_s"]) for r in mine if r["tree"] == tree
                ), 3),
                **{f"{what}_per_call": next(
                    r[what] / len(r["walls_s"]) for r in mine if r["tree"] == tree
                ) for what in ("jobs", "sql")},
            }
            for tree in trees
        }
        summary[data]["rows_identical"] = len({r["rows_sha256"] for r in mine}) == 1
    artifact = {"op": op, "reps": reps, "summary": summary, "runs": runs}
    with open(opts["out"][0], "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps(summary, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
