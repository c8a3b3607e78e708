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

  decades, thousandx
      The FLAGSHIPS queries timed at 10x and 100x (decades), or at
      10x, 100x AND 1000x (thousandx: sf0.1 scaled to ~6 B
      lineitem-equivalent rows, ~18 GB parquet — the largest corpus
      this box can hold), with per-decade wall factors. A plan that
      is secretly super-linear shows a GROWING factor across
      decades, which two points cannot see.
      -> CERT_decades.json, CERT_thousandx.json

  vectors, vectors1000x
      The similarity stack (``_vectors_decade``) on the SYNTHETIC
      clustered embedding corpora at 10x (20k x 256) and 100x
      (200k x 256) (vectors), or at 10x, 100x AND 1000x (2 M x 256)
      (vectors1000x), with the operator knobs scaled the way their
      docstrings prescribe. -> CERT_vectors.json, CERT_vectors_1000x.json

The four decade sweeps share one mechanism. Each decade runs in its
own fresh process (``_run_sections``), which generates the corpora
up to the sweep's top decade. Every timed rep (``_reps``) clears the
storage cache and runs inside ``tools.stage_profile.profile_call``:
the rep's wall is the profile's ``wall_s``, and the artifact keeps
every rep's step table (the Spark jobs grouped by the library's
``<op>:<step>`` job tags), so stage profiles come from the timed reps
and no sweep runs a call only to profile it. Reps are best-of-3 at
the sweep's top decade and best-of-2 below, each after one untimed
warm-up call; caches are off. One merge (``_merge``) writes the
walls, the raw and canary-normalized per-decade factors and the
burst-suspect flag.

NOISE REGIME (r12, VERDICT r11 ask #1). The box swings same-code
walls 2-9x (documented r11: virtio disk, long-lived JVM state, one
wedged 48 GB JVM that poisoned a round of measurements), so raw
single-rep walls are not evidence. Every decade sweep therefore:
  (a) REFUSES to start while any java process is resident
      (_guard_stray_jvm; override SPARK_GRAFT_ALLOW_STRAY_JVM=1),
  (b) runs a FIXED-WORK canary (q_stats_agg on the 10x corpus)
      before and after each fresh decade process and commits
      canary-NORMALIZED factors next to the raw ones — the canary
      ratio measures how fast the box actually was while that
      decade ran — and flags the run as burst-suspect when any
      process's canary moved more than 2x,
  (c) commits EVERY rep wall (best + spread).

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

# the registry sweeps' queries: every pipeline family with a
# sub-minute 100x wall (q_synthesis, 459 s at 100x, runs in tenx only)
FLAGSHIPS = [
    "q1_pricing_summary",   # full-scan relational agg
    "q_stats_agg",          # wide numeric aggregation
    "q_summarize",          # exact quantile summary
    "q_sessionize",         # per-user event windows
    "q_holt",               # per-user recurrence
    "q_asof_join",          # range join
    "q_skew_join",          # salted hot-key join
    "q_token_count",        # per-byte text kernel
    "q_remove_spans",       # duplicated-span excision
    "q_dedup_minhash",      # LSH banding near-dup
    "q_dedup_ngram_jaccard",  # shingle-bucket near-dup
    "q_dedup_paragraphs",   # paragraph-level exact dedup
    "q_bloom_check",        # broadcast Bloom screen
    "q_bpe",                # tokenizer training (word-type table)
]

REPS_TOP, REPS_BELOW = 3, 2  # best-of at a sweep's top decade / below


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


def _reps(spark, label, build, n, sink=_noop):
    """One untimed warm-up call, then ``n`` timed reps of
    ``sink(build())`` (a freshly built frame per rep: certification
    measures the submit-to-done wall, not a prepared steady state).
    Each call first clears the storage cache and the registry's
    memoized fits, then runs inside ``profile_call``.

    Why the warm-up: a decade process's first call of a query pays
    its JIT and codegen warm-up (on a 4-vCPU box 1.2-2.4x the second
    call at 10x, 22.5 vs 16.9 s for 100x semdedup), so best-of-n over
    cold reps would take a lower decade's best from fewer warm reps
    than the top decade's and bias every factor low.

    Why clear the cache: operators persist reusable intermediates
    (plans/cache.py), and a later rep's build of the identical plan
    hits them. At small decades the cached frames fit and rep 2
    measures warm; at the top decade they evict and it measures
    cold — a warm/cold asymmetry that fabricated super-linear decade
    factors (the late-r9 thousandx run read ngram-jaccard at
    46.9x/decade; cold-vs-cold it is 8.0x). The BPE and beam-search
    fits are memoized per sf_dir; a rep times the fit.

    Returns the timed reps' best wall, every timed rep wall and their
    max/min spread (on a box whose same-code walls swing 2-9x, a
    best-of without its reps is not auditable), every timed rep's
    profile, and the warm-up's wall (``warmup_s``). A wall is its
    profile's ``wall_s``, which does not include reading the profile
    back."""
    from dataframe_spark.queries import ml_q, text_q
    from tools.stage_profile import profile_call

    profiles = []
    for _ in range(n + 1):
        spark.catalog.clearCache()
        text_q._BPE_CACHE.clear()
        ml_q._BEAM_CACHE.clear()
        profiles.append(profile_call(spark, lambda: sink(build()))[1])
    warmup, profiles = profiles[0], profiles[1:]
    walls = [p["wall_s"] for p in profiles]
    print(label, "warm-up", warmup["wall_s"], "reps", walls, flush=True)
    return {
        "sec": min(walls),
        "reps": walls,
        "spread": round(max(walls) / max(min(walls), 1e-9), 2),
        "profiles": profiles,
        "warmup_s": warmup["wall_s"],
    }


@contextlib.contextmanager
def _canary_bracket(tag, spark, qs, part):
    """Run the fixed-work canary (q_stats_agg on the 10x corpus, two
    cold reps) before and after the block and record both in
    ``part["canary"]`` with the mean of their best reps."""

    def reps(when):
        return _reps(
            spark, f"{tag} canary_{when}",
            lambda: qs["q_stats_agg"](spark, DIR_10X), 2,
        )["reps"]

    pre = reps("pre")
    yield
    post = reps("post")
    part["canary"] = {
        "pre": pre, "post": post,
        "mean_sec": round((min(pre) + min(post)) / 2, 3),
    }


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


def _flagships(tag, spark, qs, part, reps):
    """One decade of the registry sweeps into ``part["walls"]``:
    every FLAGSHIPS query on the decade's corpus."""
    walls = part["walls"] = {}
    for name in FLAGSHIPS:
        walls[name] = _reps(
            spark, f"{tag} {name}", lambda: qs[name](spark, DECADES[tag]), reps
        )


def _vectors_decade(tag, spark, qs, part, reps):
    """One decade of the vector sweeps into ``part``, with the knobs
    scaled per the operator contracts:

    - semdedup: k = n_rows / EMB_CLUSTER_SIZE (the paper's k ∝
      corpus setting; within-cluster pair work then grows linearly)
    - knn_ivf: nlist fixed at 64, nprobe 8 — assignment is one
      linear GEMM pass and probing scans a constant nprobe/nlist
      fraction of rows
    - edge_build: the bucketed-GEMM cosine pairs over the planted
      ``label`` buckets, written to parquet (edge count grows
      linearly because cluster SIZE is the fixed quantity)
    - pagerank: 10 power iterations over the materialized edges,
      timed apart from their build so a factor > 10 names its phase

    At 1000x it adds a MEGABUCKET stanza (VERDICT r11 ask #7): 100k
    rows forced into ONE bucket (~3x _MAX_CLUSTER_ROWS), so the
    bucketed-GEMM sub-block split path runs at certification scale
    instead of only in its toy-sized unit test."""
    from pyspark.sql import functions as F

    from dataframe_spark.operators import similarity
    from dataframe_spark.operators.graph import pagerank
    from tools.scale_data import EMB_CLUSTER_SIZE

    emb = spark.read.parquet(f"{DECADES[tag]}/embeddings.parquet")
    n = emb.count()
    k = max(8, n // EMB_CLUSTER_SIZE)
    corpus = part["corpus"] = {"rows": n, "dim": 256, "semdedup_k": k}
    walls = part["walls"] = {}
    walls["semdedup"] = _reps(
        spark, f"{tag} semdedup",
        lambda: similarity.semdedup(
            emb, "vec_id", "embedding", k=k, tau=0.4, max_iter=3
        ),
        reps,
    )
    walls["knn_ivf"] = _reps(
        spark, f"{tag} knn_ivf",
        lambda: similarity.knn_ivf(
            emb, "vec_id", "embedding", query_id=0, k=10,
            nlist=64, nprobe=8, max_iter=3,
        ),
        reps,
    )
    edges_path = f"/tmp/spark_graft_vec_edges_{tag}"
    walls["edge_build"] = _reps(
        spark, f"{tag} edge_build",
        lambda: similarity.bucketed_cosine_pairs(
            emb, "vec_id", "embedding", "label", threshold=0.4
        ).select("a_id", "b_id"),
        reps, sink=lambda df: df.write.mode("overwrite").parquet(edges_path),
    )
    edges = spark.read.parquet(edges_path)
    corpus["n_edges"] = edges.count()
    # the materialized bucketed-GEMM pairs hold each unordered pair
    # exactly once (tile construction), so the setup distinct
    # collapses nothing -- skip its 8+ GB exchange (r12)
    walls["pagerank"] = _reps(
        spark, f"{tag} pagerank",
        lambda: pagerank(
            edges, "a_id", "b_id", damping=0.85, iters=10,
            symmetrize=True, assume_unique=True,
        ),
        reps,
    )
    if tag != "1000x":
        return
    # per-task peak is two 32k x 256 sub-blocks + one 2048 x 32768
    # sims tile regardless of the bucket size
    degenerate = emb.where(F.col("vec_id") < 100_000).select(
        "vec_id", "embedding", F.lit(0).alias("label")
    )
    n_pairs = []
    wall = _reps(
        spark, f"{tag} megabucket",
        lambda: similarity.bucketed_cosine_pairs(
            degenerate, "vec_id", "embedding", "label", threshold=0.4
        ),
        1, sink=lambda df: n_pairs.append(df.count()),
    )
    n_deg = degenerate.count()
    cap = similarity._MAX_CLUSTER_ROWS
    s = -(-n_deg // cap)
    part["megabucket"] = {
        "bucket_rows": n_deg, "max_bucket_rows": cap,
        "split_sub_blocks": s, "n_tiles": s * (s + 1) // 2,
        "n_pairs": n_pairs[0], **wall,
    }


# decade sweep -> (one decade's measurement, decades, artifact)
DECADE_SWEEPS = {
    "decades": (_flagships, ("10x", "100x"), "CERT_decades.json"),
    "thousandx": (_flagships, tuple(DECADES), "CERT_thousandx.json"),
    "vectors": (_vectors_decade, ("10x", "100x"), "CERT_vectors.json"),
    "vectors1000x": (_vectors_decade, tuple(DECADES), "CERT_vectors_1000x.json"),
}


def _run_sections(sweep, argv):
    """Run each decade of ``sweep`` in a FRESH process and return
    their parts by decade tag.

    Why a process per decade (r11, measured): a single long-lived
    local JVM accumulates heap/GC/block-manager state, and what it
    measured last paid for it erratically — an untouched scan-agg
    canary read 68.1 s inside the accumulated session against
    24.8-34.7 s in a fresh one, and the jaccard prefix stage 187 s in
    the second section of a shared 48g process against 36.3 s fresh,
    while the small canary stayed flat. A fresh engine per decade is
    also the honest model of production: each scale runs as its own
    cluster submit.

    The sweep re-execs itself once per decade with ``--section=TAG
    --partdir=DIR`` (a private mkdtemp dir, ADVICE r11 #4). That child
    generates the corpora up to the sweep's top decade, runs the
    sweep's measurement inside a fixed-work canary bracket
    (``part["canary"]``) with REPS_TOP reps at the top decade and
    REPS_BELOW below it, writes ``part`` to DIR and exits."""
    measure, tags, _ = DECADE_SWEEPS[sweep]
    opts = dict(
        a.split("=", 1) for a in argv if a.startswith("--") and "=" in a
    )
    if "--section" in opts:
        import __spark_entry__ as entry

        tag = opts["--section"]
        spark = _spark(f"certify_{sweep}_{tag}")
        _ensure(spark, tags[-1])
        qs = entry.queries()
        part = {}
        with _canary_bracket(tag, spark, qs, part):
            measure(tag, spark, qs, part,
                    REPS_TOP if tag == tags[-1] else REPS_BELOW)
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


def _merge(sweep, parts):
    """The artifact of decade sweep ``sweep`` from its ``parts`` (tag
    -> what that decade's process wrote): every measurement's rep
    stats by decade (``walls``), its raw and canary-normalized
    per-decade factors, the canary brackets with their ratios and
    spreads, the burst-suspect flag, and any ``corpus`` and
    ``megabucket`` records by decade. Pure: no Spark, no I/O."""
    _, tags, _ = DECADE_SWEEPS[sweep]
    steps = [(f"{hi}_over_{lo}", lo, hi) for lo, hi in zip(tags, tags[1:])]
    canary = {t: parts[t]["canary"] for t in tags}
    # canary ratio between two decade PROCESSES = how much slower
    # the box ran while the bigger decade measured (the canary's
    # work is identical in every process); dividing it out of the
    # raw factor removes box drift, not plan cost
    c_ratio = {
        pair: canary[hi]["mean_sec"] / max(canary[lo]["mean_sec"], 1e-9)
        for pair, lo, hi in steps
    }
    # compare the QUIET FLOOR before vs after each decade (min of
    # each bracket): the first pre rep in a fresh process pays
    # one-off JVM/codegen warmup (9-20 s vs the ~2 s steady canary in
    # every r12/r13 artifact), so a max-over-all-reps spread would
    # flag warmup as a burst
    spread = {}
    for t, c in canary.items():
        lo, hi = sorted((min(c["pre"]), min(c["post"])))
        spread[t] = round(hi / max(lo, 1e-9), 2)
    walls = {}
    for t in tags:
        for name, w in parts[t]["walls"].items():
            walls.setdefault(name, {})[t] = w
    factors = {}
    for name, w in walls.items():
        raw = {
            pair: round(w[hi]["sec"] / max(w[lo]["sec"], 1e-9), 2)
            for pair, lo, hi in steps
        }
        factors[name] = {**raw, "canary_normalized": {
            pair: round(raw[pair] / c_ratio[pair], 2) for pair in raw
        }}
    merged = {
        "sweep": sweep, "walls": walls, "per_decade_factors": factors,
        "canary": canary,
        "canary_ratio": {k: round(v, 3) for k, v in c_ratio.items()},
        "canary_spread": spread,
        "burst_suspect": any(v > 2.0 for v in spread.values()),
        "reps": REPS_BELOW, "reps_top_decade": REPS_TOP,
        "process_per_decade": True,
        "note": "factor 10 = linear in rows per decade; "
                "canary_normalized divides out the fixed-work "
                "canary's drift between decade processes "
                "(q_stats_agg on the 10x corpus, two reps before "
                "and two after each decade's measurements); "
                "canary_spread is each process's after/before "
                "quiet-floor ratio, burst_suspect any spread over "
                "2; every measurement (the canary too) runs one "
                "untimed warm-up call (warmup_s) before its timed "
                "reps, so sec, reps and spread read warm calls only; "
                "every timed rep's wall and stage profile (its Spark "
                "jobs grouped by the library's op:step job tags) "
                "is committed",
    }
    for key in ("corpus", "megabucket"):
        got = {t: parts[t][key] for t in tags if key in parts[t]}
        if got:
            merged[key] = got
    return merged


def sweep_decade(sweep, argv):
    """Run decade sweep ``sweep`` (module docstring) and write its
    merged artifact. With 1000x in the sweep the JVM gets a larger
    heap than the 8g default, so shuffle-heavy stages at 600 M rows
    spill to disk instead of dying — on a real cluster the aggregate
    executor memory at this scale dwarfs the input."""
    _, tags, path = DECADE_SWEEPS[sweep]
    if tags[-1] == "1000x":
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    os.environ["SPARK_GRAFT_CACHE_TABLES"] = "0"
    merged = _merge(sweep, _run_sections(sweep, argv))
    print("per-decade factors (10 = linear):", merged["per_decade_factors"])
    print("canary ratios:", merged["canary_ratio"], "spreads:",
          merged["canary_spread"], "burst_suspect:", merged["burst_suspect"])
    _write(path, merged)


def main():
    sweeps = {"parity": sweep_parity, "tenx": sweep_tenx}
    for name in DECADE_SWEEPS:
        sweeps[name] = lambda argv, name=name: sweep_decade(name, argv)
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
