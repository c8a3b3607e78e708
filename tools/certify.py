"""Reproducible certification sweeps (VERDICT r7 ask #9): every
round-level claim that used to be a one-off session command is a
subcommand here, each emitting one JSON artifact at the repo root so
the next round re-runs the exact same evidence.

Usage: python tools/certify.py <sweep> [options]

  parity [sf_dir] [--ansi] [--tag NAME]
      Full-registry Spark-vs-DuckDB parity at sf_dir (default
      sf0.01), optionally under an ANSI-enabled session (the
      driver's worst-case config). -> CERT_parity_<tag>.json

  tenx
      Execute EVERY registry query against the 10x scale-up of
      sf0.1 (generated on demand via tools/scale_data.ensure) and
      record wall + row count + zero-error status.
      -> CERT_tenx.json

  vectors
      The r8 vector-scale sweep: semdedup / IVF / PageRank on the
      SYNTHETIC clustered embedding corpora at 10x (20k x 256) and
      100x (200k x 256), caches off, with the operator knobs scaled
      the way their docstrings prescribe (SemDeDup k proportional to
      corpus; IVF nlist fixed so probe cost is a constant fraction).
      Records per-decade wall factors (100x / 10x; 10 = linear).
      -> CERT_vectors.json

  decades
      The r7 two-decade flagship sweep, reproducible: ten flagship
      queries timed at 10x and 100x (chained scale_data), caches
      off, per-decade wall factors. -> CERT_decades.json

  thousandx
      THREE-decade sweep (late r9): a flagship subset timed at 10x,
      100x, AND 1000x (sf0.1 scaled to ~6 B lineitem-equivalent
      rows, ~18 GB parquet — the largest corpus this box can hold),
      caches off. Reports BOTH per-decade factors (100x/10x and
      1000x/100x); a plan that is secretly super-linear shows a
      GROWING factor across decades, which two points cannot see.
      -> CERT_thousandx.json

  vectors1000x, dedup_stages, vectors_stages
      The vector stack at three decades, and the top-decade dedup and
      semdedup stage profiles (see each sweep's docstring).
      -> CERT_vectors_1000x.json, CERT_dedup_stages_r13.json,
         CERT_vectors_stages_r13.json

NOISE REGIME (r12, VERDICT r11 ask #1). The box swings same-code
walls 2-9x (documented r11: virtio disk, long-lived JVM state, one
wedged 48 GB JVM that poisoned a round of measurements), so raw
single-rep walls are not evidence. Every decade-factor sweep now:
  (a) REFUSES to start while any java process is resident
      (_guard_stray_jvm; override SPARK_GRAFT_ALLOW_STRAY_JVM=1),
  (b) runs a FIXED-WORK canary (q_stats_agg on the 10x corpus)
      before and after each fresh decade process and commits
      canary-NORMALIZED factors next to the raw ones — the canary
      ratio measures how fast the box actually was while that
      decade ran,
  (c) commits EVERY rep wall (best + spread), best-of-3 at the top
      decade.

Artifacts carry the sweep parameters so a diff between rounds is
meaningful. All sweeps run on the session defaults (local[32],
shuffle.partitions 32) unless noted.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

sys.path.insert(0, ".")

SF01 = "/root/testdata/sf0.1"
DIR_10X = "/tmp/spark_graft_sf1"
DIR_100X = "/tmp/spark_graft_sf10"
DIR_1000X = "/tmp/spark_graft_sf100"
DECADES = {"10x": DIR_10X, "100x": DIR_100X, "1000x": DIR_1000X}

# the three-decade subset: every pipeline family with a sub-minute
# 100x wall (vector ops stay on the 2-decade CERT_vectors sweep —
# semdedup at 2M x 256 would dominate the box for no extra signal)
TX_FLAGSHIPS = [
    "q1_pricing_summary",   # full-scan relational agg
    "q_stats_agg",          # wide numeric aggregation
    "q_sessionize",         # per-user event windows
    "q_asof_join",          # range join
    "q_token_count",        # per-byte text kernel
    "q_dedup_minhash",      # LSH banding near-dup
    "q_dedup_ngram_jaccard",  # shingle-bucket near-dup
    "q_dedup_paragraphs",   # paragraph-level exact dedup
    "q_bloom_check",        # broadcast Bloom screen
    "q_bpe",                # tokenizer training (word-type table)
]

FLAGSHIPS = [
    "q1_pricing_summary", "q_stats_agg", "q_sessionize", "q_summarize",
    "q_dedup_ngram_jaccard", "q_dedup_minhash", "q_skew_join", "q_holt",
    "q_asof_join", "q_token_count",
    # r9 (VERDICT r8 ask #5): the 100 TB pitch rests on the text-dedup
    # stack — give banding/span/paragraph/bloom 100x evidence too
    "q_remove_spans", "q_dedup_paragraphs", "q_bloom_check",
    # r9 (VERDICT r8 ask #1): pin the beam-search scale story in the
    # committed artifact (memoization cleared per rep — see below)
    "q_synthesis",
]


def _spark(name, ansi=False):
    from dataframe_spark.session import get_spark

    spark = get_spark(name)
    if ansi:
        spark.conf.set("spark.sql.ansi.enabled", "true")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _write(path, payload):
    payload["generated_by"] = f"tools/certify.py {' '.join(sys.argv[1:])}"
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(f"\nwrote {path}")


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _guard_stray_jvm():
    """Refuse to certify while a Spark JVM is already resident
    (VERDICT r11 ask #1c, automated): r11 found a wedged 48 GB
    certification JVM from an OOM'd sweep still alive during later
    measurements — pytest wall 98.7 s -> 569 s for the same
    selection until it was killed. Any java process at sweep start
    is by definition not ours (each sweep creates its own session
    after this check), so its presence means the walls about to be
    measured would be box-contention artifacts.

    A JUST-EXITED sweep's JVM takes a few seconds to die after its
    python parent (py4j shutdown is asynchronous), so back-to-back
    sweeps are legitimate: the guard polls for up to 45 s and only
    refuses a JVM that OUTLIVES the grace period — a wedged JVM
    never exits, a healthy teardown clears in seconds."""
    import subprocess

    if os.environ.get("SPARK_GRAFT_ALLOW_STRAY_JVM") == "1":
        return

    def resident():
        try:
            out = subprocess.run(
                ["ps", "-eo", "pid=,rss=,comm="],
                capture_output=True, text=True,
            ).stdout
        except OSError:  # no ps: cannot check, proceed
            return []
        stray = []
        for line in out.splitlines():
            parts = line.split(None, 2)
            if len(parts) == 3 and parts[2].strip() == "java":
                stray.append(
                    f"pid {parts[0]} rss {int(parts[1]) // 1024} MB"
                )
        return stray

    deadline = time.monotonic() + 45
    stray = resident()
    while stray and time.monotonic() < deadline:
        time.sleep(3)
        stray = resident()
    if stray:
        print(
            "REFUSING to certify: java process(es) still resident "
            "after a 45 s grace period: " + "; ".join(stray)
            + "\n(a stray Spark JVM poisons every wall measured next to "
            "it — kill it, or set SPARK_GRAFT_ALLOW_STRAY_JVM=1 to "
            "measure anyway)",
            file=sys.stderr,
        )
        sys.exit(3)


def _time_reps(build, reps=2, spark=None):
    """All rep walls (cold per rep — storage cache cleared like
    _time_best) so the artifact commits the SPREAD next to the
    point estimate (VERDICT r11 ask #1b): on a box whose
    same-code walls swing 2-9x, a best-of without its reps is not
    auditable."""
    walls = []
    for _ in range(reps):
        if spark is not None:
            spark.catalog.clearCache()
        t0 = time.monotonic()
        _noop(build())
        walls.append(round(time.monotonic() - t0, 3))
    return walls


def _rep_stats(walls):
    return {
        "sec": min(walls),
        "reps": walls,
        "spread": round(max(walls) / max(min(walls), 1e-9), 2),
    }


@contextlib.contextmanager
def _canary_bracket(tag, spark, qs, part):
    """Run the fixed-work canary (q_stats_agg on the 10x corpus, two
    cold reps) before and after the block and record both in
    ``part["canary"]`` with the mean of their best reps."""

    def reps():
        return _time_reps(
            lambda: qs["q_stats_agg"](spark, DIR_10X), reps=2, spark=spark
        )

    pre = reps()
    print(tag, "canary_pre", pre, flush=True)
    yield
    post = reps()
    print(tag, "canary_post", post, flush=True)
    part["canary"] = {
        "pre": pre, "post": post,
        "mean_sec": round((min(pre) + min(post)) / 2, 3),
    }


def _time_best(build, reps=3, spark=None):
    """Best-of-reps wall for a freshly built frame per rep (cold
    plan each time — certification measures the submit-to-done wall,
    not the prepared steady state).

    Pass ``spark`` to ALSO clear the storage cache before every rep:
    operators persist reusable intermediates, and a rep-2 (or
    later-query) build of the identical logical plan hits that
    cache. At small decades the cached frames fit and rep 2
    measures warm; at the top decade they evict and the measurement
    is cold — a warm/cold asymmetry that fabricates super-linear
    decade factors (the late-r9 thousandx run read ngram-jaccard at
    46.9x/decade; cold-vs-cold it is 8.0x). Decade sweeps therefore
    clear the cache so every decade measures the same thing: the
    cold submit-to-done wall."""
    best = float("inf")
    for _ in range(reps):
        if spark is not None:
            spark.catalog.clearCache()
        t0 = time.monotonic()
        _noop(build())
        best = min(best, time.monotonic() - t0)
    return round(best, 3)


def sweep_parity(argv):
    sf_dir = "/root/testdata/sf0.01"
    ansi = False
    tag = None
    it = iter(argv)
    for a in it:
        if a == "--ansi":
            ansi = True
        elif a.startswith("--tag"):
            # accept both '--tag=NAME' and '--tag NAME'
            if "=" in a:
                tag = a.split("=", 1)[1]
            else:
                tag = next(it, None)
            if not tag:
                print("--tag requires a value (--tag=NAME or --tag NAME)",
                      file=sys.stderr)
                sys.exit(2)
        else:
            sf_dir = a
    if tag is None:
        tag = os.path.basename(sf_dir.rstrip("/")) + ("_ansi" if ansi else "")
    from tools.parity import run_parity

    spark = _spark("certify_parity", ansi=ansi)
    results = {}
    n_pass, n_fail, n_rowsonly = run_parity(spark, sf_dir, results=results)
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    _write(f"CERT_parity_{tag}.json", {
        "sweep": "parity", "sf_dir": sf_dir, "ansi": ansi,
        "n_pass": n_pass, "n_fail": n_fail, "n_rows_only": n_rowsonly,
        "results": results,
    })
    # prompt JVM teardown so a back-to-back sweep's stray-JVM guard
    # sees a clean box without burning its grace period
    spark.stop()
    sys.exit(1 if n_fail else 0)


def _ensure(spark, upto):
    """Generate the chained scale-ups of sf0.1 (10x, then 100x from
    10x, ...) once, up to and including the decade ``upto``."""
    from tools.scale_data import ensure

    src = SF01
    for tag, d in DECADES.items():
        if not ensure(spark, src, d):
            print(f"{tag} generation failed", file=sys.stderr)
            sys.exit(1)
        if tag == upto:
            return
        src = d


def _run_sections(sweep, argv, tags, measure):
    """Run each section of ``sweep`` in a FRESH process and return
    their partial results by tag.

    Why a process per section (r11, measured): a single long-lived
    local JVM accumulates heap/GC/block-manager state, and what it
    measured last paid for it erratically — an untouched scan-agg
    canary read 68.1 s inside the accumulated session against
    24.8-34.7 s in a fresh one, and the jaccard prefix stage 187 s in
    the second section of a shared 48g process against 36.3 s fresh,
    while the small canary stayed flat. A fresh engine per section is
    also the honest model of production: each scale runs as its own
    cluster submit.

    The sweep re-execs itself once per tag with ``--section=TAG
    --partdir=DIR`` (a private mkdtemp dir, ADVICE r11 #4). That child
    generates the corpora up to 1000x, runs ``measure(tag, spark, qs,
    part)`` inside a fixed-work canary bracket (``part["canary"]``),
    writes ``part`` to DIR and exits."""
    opts = dict(
        a.split("=", 1) for a in argv if a.startswith("--") and "=" in a
    )
    if "--section" in opts:
        import __spark_entry__ as entry

        tag = opts["--section"]
        spark = _spark(f"certify_{sweep}_{tag}")
        _ensure(spark, "1000x")
        qs = entry.queries()
        part = {}
        with _canary_bracket(tag, spark, qs, part):
            measure(tag, spark, qs, part)
        with open(f"{opts['--partdir']}/{tag}.part.json", "w") as f:
            json.dump(part, f)
        spark.stop()
        sys.exit(0)
    import shutil
    import subprocess
    import tempfile

    partdir = tempfile.mkdtemp(prefix=f"cert_{sweep}_")
    parts = {}
    try:
        for tag in tags:
            rc = subprocess.call(
                [sys.executable, os.path.abspath(__file__), sweep,
                 f"--section={tag}", f"--partdir={partdir}"],
                cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            )
            if rc:
                print(f"section {tag} failed (rc {rc})", file=sys.stderr)
                sys.exit(rc)
            with open(f"{partdir}/{tag}.part.json") as f:
                parts[tag] = json.load(f)
    finally:
        shutil.rmtree(partdir, ignore_errors=True)
    return parts


def _stage_profile(spark, build):
    """``(frame, profile)`` of one cold call: ``build()`` runs the
    operator and its frame is written to the noop sink, all inside
    ``tools.stage_profile.profile_call``, so the profile holds every
    Spark job the call started, grouped by the library's
    ``<op>:<step>`` job tags (the sink's jobs under ``result``). The
    steps are the operator's own: nothing of its pipeline is rebuilt
    here, and any count is taken from the returned frame after the
    timing."""
    from tools.stage_profile import profile_call

    spark.catalog.clearCache()

    def call():
        df = build()
        _noop(df)
        return df

    df, prof = profile_call(spark, call)
    for step, rec in prof["steps"].items():
        print(f"  {step}: {rec}", flush=True)
    print(f"  wall {prof['wall_s']} s, driver idle {prof['driver_idle_s']} s",
          flush=True)
    return df, prof


def _pairs_profile(spark, qs, name, d):
    """Stage profile of the registry pair query ``name`` (one
    jaccard_pairs or minhash_dedup_pairs call) at ``d``, with its
    pair count."""
    df, prof = _stage_profile(spark, lambda: qs[name](spark, d))
    prof["n_pairs"] = df.count()
    return prof


def sweep_tenx(argv):
    import __spark_entry__ as entry

    spark = _spark("certify_tenx")
    _ensure(spark, "10x")
    qs = entry.queries()
    out, n_err = {}, 0
    for name, fn in qs.items():
        t0 = time.monotonic()
        try:
            n = fn(spark, DIR_10X).count()
            out[name] = {"sec": round(time.monotonic() - t0, 3), "rows": n}
        except Exception as e:  # record, keep sweeping
            out[name] = {"error": f"{type(e).__name__}: {e}"[:200]}
            n_err += 1
        print(name, out[name])
    _write("CERT_tenx.json", {
        "sweep": "tenx", "dir": DIR_10X, "n_queries": len(out),
        "n_errors": n_err, "queries": out,
    })
    sys.exit(1 if n_err else 0)


def sweep_vectors(argv):
    """Per-decade scaling of the similarity stack on the synthetic
    clustered corpora. Knobs scale per the operator contracts:

    - semdedup: k = n_rows / EMB_CLUSTER_SIZE (the paper's k ∝
      corpus setting; within-cluster pair work then grows linearly)
    - knn_ivf: nlist fixed at 64, nprobe 8 — assignment is one
      linear GEMM pass and probing scans a constant nprobe/nlist
      fraction of rows
    - pagerank: 10 power iterations over the within-cluster cosine
      edge set (planted `label` as the bucket — edge count grows
      linearly because cluster SIZE is the fixed quantity)

    Caches OFF (honest scan path): SPARK_GRAFT_CACHE_TABLES unset.
    """
    os.environ["SPARK_GRAFT_CACHE_TABLES"] = "0"
    from pyspark.sql import functions as F

    from dataframe_spark.operators import similarity
    from dataframe_spark.operators.graph import pagerank
    from tools.scale_data import EMB_CLUSTER_SIZE

    spark = _spark("certify_vectors")
    _ensure(spark, "100x")
    decades = {"10x": DIR_10X, "100x": DIR_100X}
    out = {}
    for tag, d in decades.items():
        emb = spark.read.parquet(f"{d}/embeddings.parquet")
        n = emb.count()
        k = max(8, n // EMB_CLUSTER_SIZE)
        row = {"rows": n, "dim": 256, "semdedup_k": k}

        row["semdedup_sec"] = _time_best(
            lambda: similarity.semdedup(
                emb, "vec_id", "embedding", k=k, tau=0.4, max_iter=3
            )
        )
        row["knn_ivf_sec"] = _time_best(
            lambda: similarity.knn_ivf(
                emb, "vec_id", "embedding", query_id=0, k=10,
                nlist=64, nprobe=8, max_iter=3,
            )
        )

        def build_pr():
            a = emb.select(
                F.col("vec_id").alias("a_id"), F.col("label"),
                F.col("embedding").alias("__ea"),
            )
            b = emb.select(
                F.col("vec_id").alias("b_id"), F.col("label"),
                F.col("embedding").alias("__eb"),
            )
            edges = (
                a.join(b, "label")
                .where(F.col("a_id") < F.col("b_id"))
                .where(
                    similarity.cosine(F.col("__ea"), F.col("__eb")) >= 0.4
                )
                .select("a_id", "b_id")
            )
            # cosine_pairs pairs are unique by construction, so the
            # setup distinct is a no-op -- skip it (r12)
            return pagerank(
                edges, "a_id", "b_id", damping=0.85, iters=10,
                symmetrize=True, assume_unique=True,
            )

        row["pagerank_sec"] = _time_best(build_pr, reps=2)
        out[tag] = row
        print(tag, row)
    factors = {
        op: round(out["100x"][f"{op}_sec"] / max(out["10x"][f"{op}_sec"], 1e-9), 2)
        for op in ("semdedup", "knn_ivf", "pagerank")
    }
    print("per-decade factors (10 = linear):", factors)
    _write("CERT_vectors.json", {
        "sweep": "vectors", "decades": out,
        "per_decade_factors": factors,
        "note": "factor 10 = linear in rows; semdedup k scales with "
                "corpus per the paper, IVF nlist fixed (constant probe "
                "fraction), pagerank edges grow linearly (fixed cluster "
                "size)",
    })


def sweep_decades(argv):
    import __spark_entry__ as entry

    os.environ["SPARK_GRAFT_CACHE_TABLES"] = "0"
    spark = _spark("certify_decades")
    _ensure(spark, "100x")
    qs = entry.queries()
    out = {}
    from dataframe_spark.queries import ml_q

    for tag, d in (("10x", DIR_10X), ("100x", DIR_100X)):
        for name in FLAGSHIPS:
            def build(name=name, d=d):
                if name == "q_synthesis":
                    # the search result is memoized per (app, sf_dir);
                    # certification must time the SEARCH, not the cache
                    ml_q._BEAM_CACHE.clear()
                return qs[name](spark, d)

            t = _time_best(build, reps=2, spark=spark)
            out.setdefault(name, {})[tag] = t
            print(tag, name, t)
    factors = {
        n: round(v["100x"] / max(v["10x"], 1e-9), 2) for n, v in out.items()
    }
    print("per-decade factors (10 = linear):", factors)
    _write("CERT_decades.json", {
        "sweep": "decades", "flagships": out, "per_decade_factors": factors,
    })


def sweep_thousandx(argv):
    """Three-decade scaling evidence (docstring above), one fresh
    process per decade (``_run_sections``). The 1000x corpus
    materializes ~18 GB of parquet; the JVM gets a larger heap than
    the 8g default so shuffle-heavy stages at 600 M rows spill to
    disk instead of dying — on a real cluster the aggregate executor
    memory at this scale dwarfs the input.

    Noise regime (r12, VERDICT r11 ask #1): stray-JVM guard before
    anything runs; each decade process measures a FIXED-WORK canary
    (q_stats_agg on the 10x corpus) before and after its flagship
    walls, and the merged artifact carries canary-normalized factors
    (raw_factor / canary_ratio) next to the raw ones; reps are
    best-of-3 at the top decade (best-of-SPARK_GRAFT_CERT_REPS,
    default 2, below), with every rep wall and the max/min spread
    committed. The 1000x process also records the jaccard and minhash
    stage profiles (``_pairs_profile``)."""
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    os.environ["SPARK_GRAFT_CACHE_TABLES"] = "0"
    reps = int(os.environ.get("SPARK_GRAFT_CERT_REPS", "2"))

    def measure(tag, spark, qs, part):
        # BPE fits are memoized per sf_dir; certification times the fit
        from dataframe_spark.queries import text_q

        walls = part["walls"] = {}
        for name in TX_FLAGSHIPS:
            def build(name=name):
                if name == "q_bpe":
                    text_q._BPE_CACHE.clear()
                return qs[name](spark, DECADES[tag])

            walls[name] = _rep_stats(_time_reps(
                build, reps=max(reps, 3) if tag == "1000x" else reps,
                spark=spark,
            ))
            print(tag, name, walls[name], flush=True)
        if tag == "1000x":
            part["stage_profile"] = {
                f"{name}@1000x": _pairs_profile(spark, qs, name, DIR_1000X)
                for name in ("q_dedup_ngram_jaccard", "q_dedup_minhash")
            }

    parts = _run_sections("thousandx", argv, DECADES, measure)
    out, stage_profile, canary = {}, {}, {}
    for tag, part in parts.items():
        for name, w in part["walls"].items():
            out.setdefault(name, {})[tag] = w
        stage_profile.update(part.get("stage_profile", {}))
        canary[tag] = part["canary"]
    # canary ratio between two decade PROCESSES = how much slower
    # the box ran while the bigger decade measured (the canary's
    # work is identical in every process); dividing it out of the
    # raw factor removes box drift, not plan cost
    c_ratio = _canary_ratios(canary)
    factors = {n: _decade_factors(v, c_ratio) for n, v in out.items()}
    print("per-decade factors (10 = linear):", factors)
    print("canary:", canary, "ratios:", c_ratio)
    _write("CERT_thousandx.json", {
        "sweep": "thousandx", "flagships": out,
        "per_decade_factors": factors,
        "canary": canary,
        "canary_ratio": {k: round(v, 3) for k, v in c_ratio.items()},
        "stage_profile": stage_profile,
        "reps": reps,
        "reps_top_decade": 3,
        "process_per_decade": True,
        "note": "factor 10 = linear in rows per decade; "
                "canary_normalized divides out the fixed-work "
                "canary's drift between decade processes "
                "(q_stats_agg on the 10x corpus, measured before "
                "and after each decade's flagships); every rep "
                "wall is committed with its max/min spread; "
                "stage_profile holds the Spark jobs of one cold "
                "call per query, grouped by the library's "
                "op:step job tags",
    })


def _canary_ratios(canary):
    """Canary mean ratio of each decade process over the one below."""
    return {
        pair: canary[hi]["mean_sec"] / max(canary[lo]["mean_sec"], 1e-9)
        for pair, lo, hi in (
            ("100x_over_10x", "10x", "100x"),
            ("1000x_over_100x", "100x", "1000x"),
        )
    }


def _decade_factors(walls, c_ratio):
    """Raw and canary-normalized per-decade wall factors of one
    measurement (``walls`` maps decade tag -> ``_rep_stats``)."""
    raw = {
        pair: round(walls[hi]["sec"] / max(walls[lo]["sec"], 1e-9), 2)
        for pair, lo, hi in (
            ("100x_over_10x", "10x", "100x"),
            ("1000x_over_100x", "100x", "1000x"),
        )
    }
    raw["canary_normalized"] = {
        pair: round(raw[pair] / c_ratio[pair], 2) for pair in c_ratio
    }
    return raw


def sweep_dedup_stages(argv):
    """Focused top-decade dedup evidence (r12), cheap to re-run after
    a plan change without paying the full three-decade thousandx
    sweep: the 1000x jaccard and minhash stage profiles
    (``_pairs_profile``), a minhash e2e best-of-2 at 1000x and jaccard
    e2e walls at 100x (best-of-2) and 1000x (best-of-3), whose merge
    computes the jaccard top-decade factor, raw and
    canary-normalized. Every section runs in its own fresh process
    with its own canary bracket (``_run_sections``).
    -> CERT_dedup_stages_r13.json"""
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    os.environ["SPARK_GRAFT_CACHE_TABLES"] = "0"
    e2e = {  # section -> (query, corpus, reps)
        "minhash_e2e_1000x": ("q_dedup_minhash", DIR_1000X, 2),
        "jaccard_e2e_100x": ("q_dedup_ngram_jaccard", DIR_100X, 2),
        "jaccard_e2e_1000x": ("q_dedup_ngram_jaccard", DIR_1000X, 3),
    }
    profiles = {
        "minhash_profile": "q_dedup_minhash",
        "jaccard_profile": "q_dedup_ngram_jaccard",
    }

    def measure(tag, spark, qs, part):
        if tag in profiles:
            name = profiles[tag]
            print(f"{name} stage profile at 1000x:", flush=True)
            part["stage_profile"] = {
                f"{name}@1000x": _pairs_profile(spark, qs, name, DIR_1000X)
            }
            return
        name, d, reps = e2e[tag]
        part[tag] = _rep_stats(
            _time_reps(lambda: qs[name](spark, d), reps=reps, spark=spark)
        )
        print(tag, part[tag], flush=True)

    parts = _run_sections("dedup_stages", argv, [*profiles, *e2e], measure)
    merged = {"sweep": "dedup_stages", "dir": DIR_1000X,
              "stage_profile": {}, "canary": {}}
    for tag, part in parts.items():
        merged["stage_profile"].update(part.get("stage_profile", {}))
        if tag in e2e:
            merged[tag] = part[tag]
        merged["canary"][tag] = part["canary"]
    raw = (merged["jaccard_e2e_1000x"]["sec"]
           / max(merged["jaccard_e2e_100x"]["sec"], 1e-9))
    c_ratio = (merged["canary"]["jaccard_e2e_1000x"]["mean_sec"]
               / max(merged["canary"]["jaccard_e2e_100x"]["mean_sec"], 1e-9))
    merged["jaccard_factor_1000x_over_100x"] = {
        "raw": round(raw, 2),
        "canary_normalized": round(raw / c_ratio, 2),
        "canary_ratio": round(c_ratio, 3),
    }
    print("jaccard top-decade factor:",
          merged["jaccard_factor_1000x_over_100x"])
    merged["note"] = (
        "fresh process per section; each stage_profile holds the Spark "
        "jobs of one cold call, grouped by the library's op:step job "
        "tags"
    )
    _write("CERT_dedup_stages_r13.json", merged)


def _vectors_decade(tag, spark, part, reps=2):
    """One decade of the vectors1000x measurement into ``part``:
    semdedup, knn_ivf, the bucketed cosine edge build and pagerank
    over the built edges (sweep_vectors1000x's docstring), plus the
    megabucket stanza at 1000x."""
    from pyspark.sql import functions as F

    from dataframe_spark.operators import similarity
    from dataframe_spark.operators.graph import pagerank
    from tools.scale_data import EMB_CLUSTER_SIZE

    emb = spark.read.parquet(f"{DECADES[tag]}/embeddings.parquet")
    n = emb.count()
    k = max(8, n // EMB_CLUSTER_SIZE)
    row = {"rows": n, "dim": 256, "semdedup_k": k}

    row["semdedup"] = _rep_stats(_time_reps(
        lambda: similarity.semdedup(
            emb, "vec_id", "embedding", k=k, tau=0.4, max_iter=3
        ),
        reps=reps, spark=spark,
    ))
    print(tag, "semdedup", row["semdedup"], flush=True)
    row["knn_ivf"] = _rep_stats(_time_reps(
        lambda: similarity.knn_ivf(
            emb, "vec_id", "embedding", query_id=0, k=10,
            nlist=64, nprobe=8, max_iter=3,
        ),
        reps=reps, spark=spark,
    ))
    print(tag, "knn_ivf", row["knn_ivf"], flush=True)

    edges_path = f"/tmp/spark_graft_vec_edges_{tag}"
    eb_walls = []
    for _ in range(reps):
        spark.catalog.clearCache()
        t0 = time.monotonic()
        similarity.bucketed_cosine_pairs(
            emb, "vec_id", "embedding", "label", threshold=0.4
        ).select("a_id", "b_id").write.mode("overwrite").parquet(edges_path)
        eb_walls.append(round(time.monotonic() - t0, 3))
    row["edge_build"] = _rep_stats(eb_walls)
    edges = spark.read.parquet(edges_path)
    row["n_edges"] = edges.count()
    print(tag, "edge_build", row["edge_build"], "edges", row["n_edges"],
          flush=True)

    # the materialized bucketed-GEMM pairs hold each unordered pair
    # exactly once (tile construction), so the setup distinct
    # collapses nothing -- skip its 8+ GB exchange (r12)
    profiles = [
        _stage_profile(spark, lambda: pagerank(
            edges, "a_id", "b_id", damping=0.85, iters=10,
            symmetrize=True, assume_unique=True,
        ))[1]
        for _ in range(reps)
    ]
    row["pagerank"] = _rep_stats([p["wall_s"] for p in profiles])
    row["pagerank"]["profiles"] = profiles
    print(tag, "pagerank", row["pagerank"]["reps"], flush=True)
    part["row"] = row
    if tag != "1000x":
        return
    # MEGABUCKET: ~100k of the 2 M vectors forced into one bucket —
    # ceil(100k/32768) = 4 sub-blocks, 10 tile tasks; per-task peak
    # is two 32k x 256 sub-blocks + one 2048 x 32768 sims tile
    # regardless of the bucket size
    mb_rows = 100_000
    degenerate = emb.where(F.col("vec_id") < mb_rows).select(
        "vec_id", "embedding", F.lit(0).alias("label")
    )
    spark.catalog.clearCache()
    t0 = time.monotonic()
    mb_pairs = similarity.bucketed_cosine_pairs(
        degenerate, "vec_id", "embedding", "label", threshold=0.4
    ).count()
    mb_wall = round(time.monotonic() - t0, 3)
    n_deg = degenerate.count()
    cap = similarity._MAX_CLUSTER_ROWS
    s = -(-n_deg // cap)
    part["megabucket"] = {
        "bucket_rows": n_deg, "max_bucket_rows": cap,
        "split_sub_blocks": s, "n_tiles": s * (s + 1) // 2,
        "wall_sec": mb_wall, "n_pairs": mb_pairs,
        "note": "split path exercised at cert scale (VERDICT "
                "r11 ask #7); task peak = 2 sub-blocks + 1 "
                "sims tile (rows pre-normalized in place, r12)",
    }
    print(tag, "megabucket", part["megabucket"], flush=True)


def sweep_vectors_stages(argv):
    """Focused vectors-stack evidence for r13 (VERDICT r12 asks #4
    and #5), one FRESH PROCESS per section with fixed-work canary
    brackets (``_run_sections``):

    - semdedup_profile: the stage profile of one semdedup call at the
      top decade (``_stage_profile``: its k-means fit, size probe and
      per-cluster pass as Spark ran them), so the next optimization
      target is measured, not guessed.
    - decade_10x + decade_100x: re-run of the full vectors decade
      measurement (``_vectors_decade``, as in sweep_vectors1000x) in a
      quiet window — the committed CERT_vectors_1000x 100x decade
      started inside a steal burst (canary pre [38.8, 11.0] s vs post
      [2.2, 4.8] s), inflating knn_ivf/edge_build's normalized
      factors to 22.18/16.26 against raw 6.48/4.75. The merge
      recomputes 100x/10x factors and FLAGS the run as burst-suspect
      if any section's canary pre/post spread exceeds 2x.
    -> CERT_vectors_stages_r13.json"""
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    os.environ["SPARK_GRAFT_CACHE_TABLES"] = "0"

    def measure(tag, spark, qs, part):
        if tag.startswith("decade_"):
            _vectors_decade(tag[len("decade_"):], spark, part)
            return
        from dataframe_spark.operators import similarity as sim
        from tools.scale_data import EMB_CLUSTER_SIZE

        print("semdedup stage profile at 1000x:", flush=True)
        emb = spark.read.parquet(f"{DIR_1000X}/embeddings.parquet")
        n = emb.count()
        k = max(8, n // EMB_CLUSTER_SIZE)
        prof = _stage_profile(spark, lambda: sim.semdedup(
            emb, "vec_id", "embedding", k=k, tau=0.4, max_iter=3, seed=42
        ))[1]
        part["stage_profile"] = {"semdedup@1000x": {"rows": n, "k": k, **prof}}

    parts = _run_sections(
        "vectors_stages", argv,
        ("semdedup_profile", "decade_10x", "decade_100x"), measure,
    )
    c = {tag: part["canary"] for tag, part in parts.items()}
    rows = {tag: parts[f"decade_{tag}"]["row"] for tag in ("10x", "100x")}
    merged = {
        "sweep": "vectors_stages", "canary": c, "decades": rows,
        "stage_profile": parts["semdedup_profile"]["stage_profile"],
    }
    # compare the QUIET FLOOR before vs after each section (min
    # of each bracket): the first pre rep in a fresh process
    # pays one-off JVM/codegen warmup (9-20 s vs the ~2 s steady
    # canary in every r12/r13 artifact), so a max-over-all-reps
    # spread would flag warmup as a burst
    spreads = {
        s: round(max(min(v["pre"]), min(v["post"]))
                 / max(min(min(v["pre"]), min(v["post"])), 1e-9), 2)
        for s, v in c.items()
    }
    merged["canary_spread"] = spreads
    merged["burst_suspect"] = any(v > 2.0 for v in spreads.values())
    c_ratio = (c["decade_100x"]["mean_sec"]
               / max(c["decade_10x"]["mean_sec"], 1e-9))
    factors = {}
    for op in ("semdedup", "knn_ivf", "edge_build", "pagerank"):
        raw = round(rows["100x"][op]["sec"]
                    / max(rows["10x"][op]["sec"], 1e-9), 2)
        factors[op] = {
            "100x_over_10x_raw": raw,
            "100x_over_10x_canary_normalized": round(raw / c_ratio, 2),
        }
    merged["per_decade_factors_100x"] = factors
    merged["canary_ratio_100x_over_10x"] = round(c_ratio, 3)
    print("factors:", factors)
    print("canary spreads:", spreads,
          "burst_suspect:", merged["burst_suspect"])
    _write("CERT_vectors_stages_r13.json", merged)


def sweep_vectors1000x(argv):
    """THREE-decade similarity/graph evidence (VERDICT r9 ask #5):
    semdedup / knn_ivf / pagerank at 10x, 100x AND 1000x (2 M x 256
    vectors at the top), knobs scaled exactly like sweep_vectors
    (semdedup k ∝ corpus, IVF nlist fixed, cluster size fixed so
    edges grow linearly). Differences from the 2-decade sweep:

    - pagerank is PHASE-SPLIT: the cosine edge build (the r10
      bucketed-GEMM operator over the planted label buckets,
      materialized to parquet) is timed separately from the 10
      power iterations over the materialized edge set, so a factor
      >10 is attributable to a phase instead of a blended wall.

    r12 (VERDICT r11 asks #1/#3/#7): the sweep joins the thousandx
    noise regime — stray-JVM guard, one fresh PROCESS per decade
    (``_run_sections``) with a fixed-work canary (q_stats_agg on the
    10x corpus) and canary-normalized factors, best-of-2 at EVERY
    decade (the r11 single-rep 1000x pagerank wall was the repo's
    weakest committed number) with all rep walls committed, the stage
    profile of every pagerank rep (its setup and each power iteration
    are job-tagged steps), and a MEGABUCKET stanza at the top decade:
    100k rows forced into ONE bucket (~3x _MAX_CLUSTER_ROWS) so the
    bucketed-GEMM sub-block split path runs at certification scale
    instead of only in its toy-sized unit test.
    -> CERT_vectors_1000x.json
    """
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    os.environ["SPARK_GRAFT_CACHE_TABLES"] = "0"

    def measure(tag, spark, qs, part):
        _vectors_decade(tag, spark, part)

    parts = _run_sections("vectors1000x", argv, DECADES, measure)
    out = {tag: part["row"] for tag, part in parts.items()}
    canary = {tag: part["canary"] for tag, part in parts.items()}
    c_ratio = _canary_ratios(canary)
    factors = {
        op: _decade_factors({t: r[op] for t, r in out.items()}, c_ratio)
        for op in ("semdedup", "knn_ivf", "edge_build", "pagerank")
    }
    print("per-decade factors (10 = linear):", factors)
    print("canary:", canary, "ratios:", c_ratio)
    _write("CERT_vectors_1000x.json", {
        "sweep": "vectors1000x", "decades": out,
        "per_decade_factors": factors,
        "canary": canary,
        "canary_ratio": {k: round(v, 3) for k, v in c_ratio.items()},
        "megabucket": parts["1000x"].get("megabucket"),
        "process_per_decade": True,
        "note": "factor 10 = linear in rows; canary_normalized "
                "divides out the fixed-work canary's drift "
                "between decade processes; pagerank phase-split: "
                "edge_build = bucketed GEMM cosine pairs to "
                "parquet, pagerank = 10 power iterations over "
                "the materialized edges (edge count grows "
                "linearly, fixed cluster size) with the stage "
                "profile of every rep; megabucket = the "
                "oversized-bucket sub-block split path exercised "
                "at 100k rows in one bucket",
    })


def main():
    sweeps = {
        "parity": sweep_parity,
        "tenx": sweep_tenx,
        "vectors": sweep_vectors,
        "vectors1000x": sweep_vectors1000x,
        "decades": sweep_decades,
        "thousandx": sweep_thousandx,
        "dedup_stages": sweep_dedup_stages,
        "vectors_stages": sweep_vectors_stages,
    }
    if len(sys.argv) < 2 or sys.argv[1] not in sweeps:
        print(__doc__)
        sys.exit(2)
    # every sweep measures walls; none is valid next to a resident
    # JVM (the r11 wedged-JVM hazard) — children re-check too, which
    # catches a sibling decade's JVM that failed to exit
    _guard_stray_jvm()
    sweeps[sys.argv[1]](sys.argv[2:])


if __name__ == "__main__":
    main()
