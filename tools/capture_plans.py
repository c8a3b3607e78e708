"""Dump .explain("formatted") for named queries (default: the bench
headline) into plans/<tag>/<query>_<suffix>.txt.

    python tools/capture_plans.py --tag r12 --suffix before [q ...]

Capturing a plan runs no job, but building a query can: a query that
fits or iterates at build time runs those Spark jobs before its plan
exists. q_semdedup runs its k-means fit, and q_pagerank runs its ten
eager power iterations, so q_pagerank's capture is only a scan of the
checkpointed ranks and shows nothing of the iterations. A capture is
therefore not free, and not safe to run beside a timing run.

Session counters (expression and subquery ids ``#N``, ``[id=#N]``,
``plan_id=N``, RDD ids ``MapPartitionsRDD[N]``) are renumbered in
order of first appearance within each file, per counter, so two
captures of the same tree diff clean whatever jobs ran before them
in the session, and every cross-reference inside a file survives.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_COUNTER = re.compile(r"(plan_id=|\[id=#|RDD\[|#)(\d+)")


def normalize(plan: str) -> str:
    """``plan`` with each session counter renumbered 0, 1, ... in
    order of first appearance (one numbering per counter kind)."""
    seen: dict[str, dict[str, int]] = {}

    def renumber(m):
        ids = seen.setdefault(m.group(1), {})
        return m.group(1) + str(ids.setdefault(m.group(2), len(ids)))

    return _COUNTER.sub(renumber, plan)


def main():
    argv = sys.argv[1:]
    tag, suffix = "r12", "before"
    if "--tag" in argv:
        i = argv.index("--tag")
        tag = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    if "--suffix" in argv:
        i = argv.index("--suffix")
        suffix = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    names = [a for a in argv if not a.startswith("--")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault(
        "SPARK_GRAFT_CACHE_TABLES", "documents,embeddings,lineitem"
    )

    from bench import HEADLINE
    from dataframe_spark.queries import all_queries
    from dataframe_spark.session import get_spark
    from dataframe_spark.tables import warm_cache

    if not names:
        names = list(HEADLINE)

    spark = get_spark("plans", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    # r13 (VERDICT r12 ask #7): the session default (100k chars,
    # session.py — sized to keep per-run plan rendering cheap)
    # TRUNCATED the big r12 captures mid-tree, cutting off the whole
    # `(n) NodeName` details section ("... N more characters" at
    # 99996 bytes), so expression-level claims were not auditable
    # from the committed files. Captures are offline evidence — raise
    # the cap here only.
    spark.conf.set("spark.sql.maxPlanStringLength", str(16 * 1024 * 1024))
    warm_cache(spark, sf_dir)
    qs = all_queries()

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        tag,
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        # _explainString is the py4j-side accessor behind .explain();
        # use the public API via a captured stdout to stay stable.
        plan = normalize(
            df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
