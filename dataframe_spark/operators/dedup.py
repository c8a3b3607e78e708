"""Deduplication operators for large-scale corpus cleaning.

Beyond the reference surface (its nearest verb is ``distinct``,
Operations/Subset.hs); these are the LLM-pipeline dedup family:
exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design: every variant is a pure DataFrame composition —
explode → hash-aggregate → hash-join — so it shuffles on content
keys (shingles / band signatures), never materializes O(n²) pairs,
and never touches the driver. The LSH variants bound candidate
generation to bucket-mates: at 100 TB the shuffle volume is
O(docs × bands), not O(docs²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.cache import try_persist
from ..plans.trace import stage

# --- exact ------------------------------------------------------------


def exact_dedup(df: SparkDF, key_cols: list[str], order_col: str) -> SparkDF:
    """Keep exactly one row (lowest ``order_col``) per key.

    One shuffle on the key; deterministic keep-first semantics
    (unlike ``dropDuplicates`` which keeps an arbitrary row)."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# --- shingling --------------------------------------------------------

# The PPJoin bounds t·n, 2t/(1+t)·n and t/(1+t)·(na+nb) are often
# exact integers that floating point lands a few ulps above:
# 0.8/1.8·126 evaluates to 56.00000000000001 and ceils to 57, so a
# pair at exactly J = t fell to the positional filter. Every bound is taken from x − _BOUND_SLACK
# instead. That can only loosen a filter (more candidates, never
# fewer), it absorbs the rounding error for sets below ~10^6
# shingles, and exact verification still decides every pair.
_BOUND_SLACK = 1e-9


def _ceil_bound(x):
    """ceil(x) with the lossless slack above (a Column)."""
    return F.ceil(x - F.lit(_BOUND_SLACK))


def _t_lo(threshold: float) -> float:
    """The threshold every PPJoin bound is computed from. The verify
    keeps round(J, 4) >= t (the DuckDB oracle's rule), and every
    J >= t − 5e-5 rounds up to t, so the bounds must be lossless down
    to there, not just to t: a 16,000-of-20,001 subset pair
    (J = 0.79996, reported as 0.8) fell to the length filter at
    t = 0.8. Less _BOUND_SLACK, so a ratio's own floating-point error
    cannot put a kept pair below it. Lowering a bound only adds
    candidates; the rounded verify still decides every pair."""
    return threshold - 5e-5 - _BOUND_SLACK


def tokens_expr(text_col: str):
    """Whitespace tokens of lowercased, trimmed text (JVM-side)."""
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def window_array_expr(tokens, n: int):
    """POSITIONAL array of word n-grams (entry i = the window
    starting at token i, duplicates preserved), built with aligned
    slices stitched by zip_with — the token array is only ever
    referenced in ARGUMENT position (evaluated once per row,
    n slices), never inside a per-element lambda body where Catalyst
    would re-evaluate the tokenization per shingle (measured 30x
    slower)."""
    m = F.greatest(F.lit(0), F.size(tokens) - (n - 1))
    arr = F.slice(tokens, 1, m)
    for k in range(1, n):
        arr = F.zip_with(
            arr,
            F.slice(tokens, k + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return arr


def shingle_array_expr(tokens, n: int = 3):
    """Distinct word n-grams (set semantics for Jaccard/minhash)."""
    return F.array_distinct(window_array_expr(tokens, n))


def shingle_arrays(
    df: SparkDF, id_col: str, text_col: str, n: int = 3
) -> SparkDF:
    """(id, sh_arr: array<string> distinct shingles, n_sh) — produced
    by a single NARROW projection: no explode, no window, no distinct
    shuffle. Docs with fewer than n tokens drop out (no shingles).

    The scan is widened first when it underuses the cores (small
    single-row-group files): shingling + downstream minhashing are
    CPU-bound map work, and a 1-split file would serialize them."""
    from ..plans.hints import ensure_scan_parallelism

    df = ensure_scan_parallelism(df)
    toks = F.filter(tokens_expr(text_col), lambda x: x != F.lit(""))
    return (
        df.select(
            F.col(id_col).alias("id"),
            shingle_array_expr(toks, n).alias("sh_arr"),
        )
        .withColumn("n_sh", F.size("sh_arr"))
        .where(F.col("n_sh") > 0)
    )


def _hashed_shingles(
    df: SparkDF, id_col: str, text_col: str, n: int
) -> SparkDF:
    """(id, sh_arr: array<bigint>, n_sh), unpersisted: the whole
    tokenize → shingle → xxhash64 → distinct chain as ONE vectorized
    mapInArrow kernel (``_shingle_kernel``, r13). Rows equal the JVM
    expression chain ``_hash_arrays(shingle_arrays(...))`` — same ids,
    same hash values, same in-array order, same n_sh — which the
    kernel-vs-reference tests pin (tests/test_dedup.py). At the 1000x
    cert corpus that chain's persist stage was 65-110 s, the top
    jaccard stage (OPTIMIZATION_r13.md); re-measured against the
    kernel at sf0.001-0.1 after the worker daemon's fixed-cost cut,
    the kernel won every pair (ROADMAP direction 2)."""
    from ..plans.hints import ensure_scan_parallelism

    sdf = ensure_scan_parallelism(df)
    id_type = sdf.schema[id_col].dataType.simpleString()
    # explicit 2-column select: mapInArrow is opaque to column
    # pruning — without it the kernel would be shipped every source
    # column (guide §4.1)
    return sdf.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__text")
    ).mapInArrow(
        _shingle_kernel(n), f"id {id_type}, sh_arr array<bigint>, n_sh int"
    )


def hashed_shingle_arrays(
    df: SparkDF, id_col: str, text_col: str, n: int = 3
) -> SparkDF:
    """The persisted (id, sh_arr: array<bigint>, n_sh) frame every
    shingle-based operator builds on. Centralized so jaccard_pairs,
    minhash_dedup_pairs and contamination scoring construct the
    BYTE-IDENTICAL plan — identical plans share one Spark cache
    entry, so a query mix over the same corpus tokenizes + shingles
    + hashes it exactly once (r6). The chain runs as the
    ``_shingle_kernel`` mapInArrow kernel at every input size (see
    ``_hashed_shingles``); docs with fewer than n tokens drop out."""
    return try_persist(_hashed_shingles(df, id_col, text_col, n))


def shingles(df: SparkDF, id_col: str, text_col: str, n: int = 3) -> SparkDF:
    """Distinct word n-gram shingles per document: (id, shingle).

    Explode of the per-doc distinct shingle array — distinctness is
    established inside the row (array_distinct), so this needs zero
    shuffles where the old window+distinct formulation needed two."""
    return shingle_arrays(df, id_col, text_col, n).select(
        "id", F.explode("sh_arr").alias("shingle")
    )


# --- exact n-gram Jaccard pairs ---------------------------------------


# One knee for every scale-only dedup mechanism: hot-shingle
# demotion, the truncated-bound pre-verify, the counted
# broadcast-verify and the cache barriers all pay fixed stages (a
# sample job, three slim joins, an eager count) that only amortize
# when the corpus is big enough for candidate volume to matter.
# Below it the simple shapes win and the RESULT is identical either
# way: at sf0.1 on a 4-vCPU box (5 interleaved cold-storage reps,
# ROADMAP direction 3) jaccard_pairs took 1.72-2.43 s against
# 3.81-5.22 s with the knee at 0, minhash_dedup_pairs 3.20-3.89 s
# against 3.69-4.54 s, and the demotion sample alone 0.45-0.64 s.
# jaccard_pairs' df order and edit_distance_pairs also stop
# broadcasting their vocabulary above it. Compared against the
# input plan's size (plans.stats.plan_size_bytes).
_BIG_PATH_KNEE = 128 * 1024 * 1024


def jaccard_pairs(
    df: SparkDF,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    order: str = "hash",
) -> SparkDF:
    """All pairs (a < b) whose word-n-gram Jaccard, rounded to 4
    decimals, is >= threshold — EXACT result via prefix filtering
    (PPJoin-style). The reported ``jaccard`` is that rounded value,
    so a pair with exact J in [threshold − 5e-5, threshold) is
    returned with jaccard == threshold. This is the rule the DuckDB
    oracle checks (``ROUND(c / (na + nb − c), 4) >= t``).

    A naive self-join on shingles fans out quadratically on hot
    shingles (stopword-only grams). Prefix filtering is lossless for
    threshold queries UNDER ANY consistent global total order of
    shingles: for Jaccard >= t two sets must share at least one of
    each other's first (n - ceil(t·n) + 1) shingles in that order.
    Two further PPJoin filters run INSIDE the candidate join, before
    the distinct and the expensive verify: the length filter (J >= t
    forces min(na,nb) >= t·max(na,nb)) and the positional filter
    (overlap is upper-bounded by min(na-pa, nb-pb)+1, which must
    reach the overlap threshold α = ceil(t/(1+t)·(na+nb))). Every
    bound takes t as the smallest ratio the rounded rule keeps
    (``_t_lo``), so the filters stay lossless for it.
    Candidates are then verified per-pair with array_intersect
    against per-doc arrays of xxhash64(shingle) longs (one row per
    doc; fixed-width comparisons), NOT by re-joining the exploded
    shingle table — verification shuffle is O(candidates + docs),
    not O(total shingles).

    ``order`` picks the global order, i.e. the candidate strategy —
    the OUTPUT is identical (tests pin both against a brute-force
    reference):

    - ``"hash"`` (default): order by (demoted?, shingle hash). The
      order is a pure per-element function, so every doc's prefix is
      computed IN-ROW (array_sort + slice) and the plan has ZERO
      corpus-scale shuffles — the only shuffled stream is the prefix
      entries themselves (~the prefix fraction of shingle
      occurrences) into the candidate join. The df-ordered plan, by
      contrast, paid a corpus-wide document-frequency groupBy AND a
      corpus-wide join-back; at the 1000x cert those two shuffles
      (~1.1 B rows each way) were exactly the spill-bound stages
      that made it super-linear on a fixed box. A uniform hash
      order costs more candidates than rarest-first — hot
      (stopword-heavy) shingles may land in prefixes and fan out
      quadratically — so above ``_BIG_PATH_KNEE`` hot shingles are
      DEMOTED to sort last: a 1% seeded sample estimates high-df
      shingles (absolute detection floor ~hot_min/fraction docs,
      corpus-size independent), and membership ships as a bitmap
      LITERAL probed in-row (O(1) array index, no broadcast, no
      join). Demotion changes only the order — any set demoted by
      any sample is still a consistent order — so sampling affects
      performance, never the result. Below the knee the sample job
      is skipped.
    - ``"df"``: rarest-first (global document frequency ascending)
      order — minimal candidates, but pays the two corpus-wide
      shuffles. It is the fast order on small corpora whose docs
      share a boilerplate block: the hash order without demotion
      puts the shared grams in most prefixes (ROADMAP)."""
    # The ENTIRE pipeline runs on xxhash64(shingle) longs, never the
    # shingle strings: the global order, the candidate join key, and
    # verification all only need a stable shingle identity, so every
    # shuffle moves 8-byte fixed-width keys instead of n-gram strings
    # and every sort compares longs. A 64-bit cross-doc collision
    # (~pairs/2^64) could only ADD a candidate, which exact
    # verification rejects — except for in-verify collisions, the
    # same vanishing risk _hash_arrays already documents.
    if order not in ("hash", "df"):
        raise ValueError(f"order must be 'hash' or 'df', got {order!r}")
    from ..plans.stats import plan_size_bytes

    arrs = hashed_shingle_arrays(df, id_col, text_col, n)
    big = plan_size_bytes(df) > _BIG_PATH_KNEE
    if order == "hash":
        prefix = _hash_order_prefix(
            arrs, df, id_col, text_col, n, threshold, big
        )
        if big:
            # BARRIER (r11, measured): materialize the persisted
            # prefix (and, en route, the arrs cache under it) BEFORE
            # the self-join consumes it from two sides. Without it
            # the two join-side stages launch concurrently against
            # the cold cache and every second task blocks on the
            # per-block compute lock while holding a core — the
            # whole cold chain runs at a fraction of the box: the
            # 1000x e2e wall read 246-273 s where the staged
            # decomposition of the same pipeline sums to ~99 s. One
            # cheap count turns the racing stages into warm scans.
            _materialize(prefix, "jaccard_pairs", "prefix")
        cands = _prefix_candidates(prefix, threshold)
        if big:
            cands = _truncated_bound_filter(cands, arrs, threshold)
            return _verify_jaccard(cands, arrs, threshold)
        return _verify_jaccard(cands, arrs, threshold, broadcast_pairs=False)
    exploded = arrs.select("id", "n_sh", F.explode("sh_arr").alias("shingle"))
    # Global document frequency, but only for REPEATED shingles: a
    # shingle with df == 1 can never produce a candidate pair, and in
    # the rarest-first order all df==1 shingles tie anyway (break by
    # shingle hash). The df>=2 set is a small fraction of the corpus
    # vocabulary, so it broadcasts — turning the df lookup from a
    # full shuffle join of the exploded table into a map-side join.
    dfreq = (
        exploded.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= 2)
    )
    # Rarest-first rank WITHOUT a full-corpus window: in the
    # (df asc, shingle asc) order every df==1 shingle sorts before
    # every repeated one, so a repeated shingle's global rank inside
    # its doc is n1 + (rank among the doc's repeated shingles),
    # where n1 = n_sh - n2 needs only counts. And df==1 shingles
    # never join across docs, so only repeated prefix entries need
    # emitting at all. That turns the old row_number window — a
    # shuffle+sort of EVERY shingle occurrence in the corpus — into
    # a groupBy of just the repeated occurrences (a small fraction),
    # with the sort done per-row over the collected struct array.
    # Shuffles left: dfreq groupBy, the repeated-occurrence groupBy,
    # the candidate join, and verification — each bounded by data or
    # candidate size, nothing quadratic.
    # The df join broadcasts below the knee only: the
    # repeated-shingle vocabulary grows with the corpus (27M rows on
    # the 1000x cert corpus), and a forced broadcast of a vocabulary
    # that big builds a GB-scale single-threaded hash relation
    # (measured at 100x: 29.8 s forced vs 16.2 s shuffled, cold).
    # Small corpora keep the broadcast (the dfreq side is a few MB
    # and the map-side join skips a shuffle of the exploded table).
    # The RESULT is identical either way — only the join strategy
    # moves.
    rep = exploded.join(
        dfreq if big else F.broadcast(dfreq), "shingle"
    )  # inner: df >= 2 only
    per_doc = rep.groupBy("id", "n_sh").agg(
        F.sort_array(F.collect_list(F.struct("df", "shingle"))).alias("__reps")
    )
    # prefix length: n_sh - ceil(t * n_sh) + 1 (n_sh rides along from
    # shingle_arrays — no second pass); keep size + position for the
    # in-join filters
    prefix_len = (
        F.col("n_sh")
        - _ceil_bound(F.lit(_t_lo(threshold)) * F.col("n_sh"))
        + 1
    )
    n1 = F.col("n_sh") - F.size("__reps")
    k = (prefix_len - n1).cast("int")  # repeated entries inside the prefix
    # The prefix frame is PERSISTED (r6): the candidate self-join
    # consumes it twice (a- and b-side), and Spark 4's AQE does not
    # reuse the exchange across the two aliased projections — without
    # the persist the whole dfreq + regroup lineage (two shuffles and
    # a broadcast build) ran once per side, measured 11 Spark jobs
    # vs 5 and ~2x the warm wall at sf0.1. The cached frame is one
    # thin row per prefix entry (~20% of shingle occurrences).
    prefix = try_persist(
        per_doc.select(
            "id",
            "n_sh",
            n1.alias("__n1"),
            F.posexplode(F.slice("__reps", F.lit(1), F.greatest(k, F.lit(0)))),
        ).select(
            "id",
            F.col("col.shingle").alias("shingle"),
            "n_sh",
            (F.col("__n1") + F.col("pos") + 1).alias("pos"),
        )
    )
    cands = _prefix_candidates(prefix, threshold)
    # legacy path keeps the legacy verify shape (no eager count)
    return _verify_jaccard(cands, arrs, threshold, broadcast_pairs=False)


def _prefix_candidates(prefix: SparkDF, threshold: float) -> SparkDF:
    """Candidate pairs from a (id, shingle, n_sh, pos) prefix frame:
    self-join on the shingle with the PPJoin length filter
    (J >= t forces min(na,nb) >= t·max(na,nb)) and positional filter
    (overlap <= min(na-pa, nb-pb)+1 must reach
    α = ceil(t/(1+t)·(na+nb)); ``pos`` is the 1-based position of
    the entry in its doc's globally-ordered shingle list) applied
    INSIDE the join, before the distinct. Shared by both global
    orders — the filters are order-agnostic.

    r13 — LOSSLESS index/probe prefix asymmetry (the PPJoin indexing
    prefix): direct each unordered pair by (n_sh, id) instead of id
    and keep only INDEX-prefix entries on the smaller side. For any
    pair with J >= t the overlap lemma (valid under any consistent
    global order) puts a shared element in the first (n_x − α + 1)
    of X and the first (n_y − α + 1) of Y, where X is the
    (n_sh, id)-smaller record and α = ceil(t/(1+t)·(n_x+n_y)).
    Since n_y >= n_x, α >= ceil(2t/(1+t)·n_x), so the shared entry
    sits within X's first n_x − ceil(2t/(1+t)·n_x) + 1 entries
    (≈0.11·n at t=0.8 vs the ≈0.2·n probe prefix); and J >= t
    forces n_x >= t·n_y, so α >= ceil(t·n_y) and the entry sits
    within Y's probe prefix, which the frame already carries (pairs
    with n_x < t·n_y die to the length filter anyway, so assuming
    it here drops nothing). The a-side of the self-join shrinks
    ~45% and every false candidate colliding only in the deep part
    of the smaller record's prefix never materializes. Pairs
    re-normalize to a_id < b_id, so the output is identical to the
    symmetric join's."""
    t = _t_lo(threshold)
    # index-prefix bound of the (n_sh, id)-smaller side:
    # pos <= n − ceil(2t/(1+t)·n) + 1
    idx_len = (
        F.col("__na")
        - _ceil_bound(F.lit(2.0 * t / (1.0 + t)) * F.col("__na"))
        + 1
    )
    a = prefix.select(
        F.col("id").alias("a_id"),
        "shingle",
        F.col("n_sh").alias("__na"),
        F.col("pos").alias("__pa"),
    ).where(F.col("__pa") <= idx_len)
    b = prefix.select(
        F.col("id").alias("b_id"),
        "shingle",
        F.col("n_sh").alias("__nb"),
        F.col("pos").alias("__pb"),
    )
    alpha = _ceil_bound(
        F.lit(t / (1.0 + t)) * (F.col("__na") + F.col("__nb"))
    )
    overlap_ub = (
        F.least(
            F.col("__na") - F.col("__pa"), F.col("__nb") - F.col("__pb")
        )
        + 1
    )
    smaller_first = (F.col("__na") < F.col("__nb")) | (
        (F.col("__na") == F.col("__nb")) & (F.col("a_id") < F.col("b_id"))
    )
    return (
        a.join(b, "shingle")
        .where(
            smaller_first
            & (
                F.least("__na", "__nb")
                >= F.lit(t) * F.greatest("__na", "__nb")
                - F.lit(_BOUND_SLACK)
            )
            & (overlap_ub >= alpha)
        )
        .select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
        )
        .distinct()
    )


def _truncated_bound_filter(
    cands: SparkDF, arrs: SparkDF, threshold: float, k: int = 32
) -> SparkDF:
    """LOSSLESS candidate pruning between the prefix join and the
    full-array verify, using per-doc truncated sorted arrays: tK =
    the K smallest shingle hashes. For any pair,

        |A∩B| <= |tA∩tB| + (n_x - |tX|)

    where X is the side whose tK has the SMALLER maximum — a common
    element outside tA∩tB cannot live in tX (it would exceed tX's
    max yet be <= the other side's, contradiction), so all such
    elements come from X's untruncated tail. Requiring the bound to
    reach α = ceil(t/(1+t)·(na+nb)) can therefore never drop a true
    pair (exact upper bound, any K), while false candidates — pairs
    sharing a handful of low-df grams that no corpus-size-bounded
    sample can band (the 1000x cert measured 29.7 M candidates, ~10³
    × the true pairs) — need |tA∩tB| >= K - (na+nb - α - ...) ≈ a
    double-digit t-overlap and die here against 256-byte arrays
    instead of reaching the full-array verify, whose fat
    intermediate (pairs × ~1.6 KB arrays) was the top-decade wall.
    Docs shorter than K are exactly represented and pass purely on
    the true bound.

    The slim frame is PERSISTED (r11): both sides of the candidate
    join consume it, and without the persist each side re-read the
    full ~1.6 KB/doc array cache to slice out 256 bytes — two
    corpus-cache scans where one builds a 5-6x smaller frame that
    both joins then read (the r10 stage profile put the combined
    truncate+verify cache traffic at ~140 s of the 229 s top-decade
    wall).

    A candidate-id pruning of the slim frame was tried and REVERTED
    (late r11, measured): semi-joining slim to the candidate pairs'
    distinct ids before the sort sounds like it should skip the
    array_sort for non-candidate docs, but at the 1000x cert corpus
    85% of docs participate in some candidate (4.27 M of 5 M), so
    the multi-million-row id broadcast + the distinct + count jobs
    cost far more than the skipped sorts — same-session warm A/B:
    pruned 347 s vs unpruned 72.6 s for truncate+verify. Candidate
    sets that sparse-corpus intuition expects are not what PPJoin
    prefixes produce on templated corpora.

    K itself is NOT a lever (r12, measured): K is lossless at any
    value, so K = 16/32/48 were A/B'd at the 1000x cert corpus
    (interleaved, one session, identical 256 000-pair output each).
    Warm-cache tail walls 79.7 / 70.4 / 62.8 s — a ~10% spread in
    the direction of LARGER K, within the session's documented box
    drift (spin canary 87 → 59 ms start-to-end): the stage is
    dominated by the candidate join's shuffle, not the 256-byte
    intersects, and smaller K's weaker bound adds verify volume.
    K = 32 stays."""
    slim = try_persist(
        arrs.select(
            "id",
            F.slice(F.array_sort("sh_arr"), 1, k).alias("__t"),
            "n_sh",
        ).select(
            "id",
            "__t",
            "n_sh",
            F.size("__t").alias("__tn"),
            # ascending sort ⇒ the truncation's max is its last element
            F.element_at(F.col("__t"), F.size("__t")).alias("__tm"),
        )
    )
    # barrier before the two join sides race the cold slim cache
    # (this filter only runs on the big path — see _materialize)
    _materialize(slim, "jaccard_pairs", "slim")
    a = slim.select(
        F.col("id").alias("a_id"),
        F.col("__t").alias("__ta"),
        F.col("n_sh").alias("__tna"),
        F.col("__tn").alias("__ka"),
        F.col("__tm").alias("__tma"),
    )
    b = slim.select(
        F.col("id").alias("b_id"),
        F.col("__t").alias("__tb"),
        F.col("n_sh").alias("__tnb"),
        F.col("__tn").alias("__kb"),
        F.col("__tm").alias("__tmb"),
    )
    t_common = F.size(F.array_intersect("__ta", "__tb"))
    tail = F.when(
        F.col("__tma") <= F.col("__tmb"), F.col("__tna") - F.col("__ka")
    ).otherwise(F.col("__tnb") - F.col("__kb"))
    t = _t_lo(threshold)
    alpha = _ceil_bound(
        F.lit(t / (1.0 + t)) * (F.col("__tna") + F.col("__tnb"))
    )
    return (
        cands.join(a, "a_id")
        .join(b, "b_id")
        .where((t_common + tail) >= alpha)
        .select("a_id", "b_id")
    )


def _hash_order_prefix(
    arrs: SparkDF,
    src: SparkDF,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    demote_hot: bool,
) -> SparkDF:
    """(id, shingle, n_sh, pos) prefix entries under the
    (demoted?, hash) global order — computed IN-ROW: sort the per-doc
    hashed shingle array, slice the first n_sh - ceil(t·n_sh) + 1
    entries, posexplode. No corpus-scale shuffle anywhere; the frame
    is persisted because the candidate self-join consumes it twice
    (AQE does not reuse the exchange across the two aliased sides).

    ``demote_hot`` turns on hot-shingle demotion; jaccard_pairs
    passes its big-path gate (``_BIG_PATH_KNEE``): below it, bucket
    sizes are too small for fan-out to matter and the sample job is
    pure overhead."""
    probe = (
        _sampled_hot_probe(src, id_col, text_col, n) if demote_hot else None
    )
    plen = (
        F.col("n_sh")
        - _ceil_bound(F.lit(_t_lo(threshold)) * F.col("n_sh"))
        + 1
    ).cast("int")
    if probe is None:
        ordered = F.array_sort("sh_arr")
        pref = F.posexplode(
            F.slice(ordered, 1, F.greatest(plen, F.lit(0)))
        )
        shingle = F.col("col")
    else:
        # struct sort: lexicographic on (demote flag, hash) — a
        # total, per-element-computable order, identical in every doc
        ordered = F.array_sort(
            F.transform(
                "sh_arr",
                lambda h: F.struct(probe(h).alias("d"), h.alias("h")),
            )
        )
        pref = F.posexplode(
            F.slice(ordered, 1, F.greatest(plen, F.lit(0)))
        )
        shingle = F.col("col.h")
    return try_persist(
        arrs.select("id", "n_sh", pref).select(
            "id",
            shingle.alias("shingle"),
            "n_sh",
            (F.col("pos") + 1).alias("pos"),
        )
    )


def _long_array_literal(words):
    """ONE ArrayType(LongType) Literal node from a list of uint64
    words. ``F.lit(list)`` expands to CreateArray with a child
    Literal PER ELEMENT — at the demotion bitmaps' size (up to 512k
    words) that is a ~1M-node expression tree which EVERY Catalyst
    analysis, canonicalization and cache-lookup pass re-traverses:
    the 1000x jaccard event log showed 166 s of driver-side gaps
    with zero jobs running, and a 262k-word micro-bench pays 124 s
    for the list literal vs 0.1 s here. ``F.lit(ndarray)`` is no
    rescue: py4j's NumpyArrayConverter copies element-by-element
    (~35 s). Bulk route instead: words ship as ONE py4j byte[]
    copy, a JVM-side LongBuffer.get fills the long[], and
    ``functions.lit(long[])`` builds the single Literal — bit
    patterns identical to the old signed-list literal (the int64
    view IS two's complement). Falls back to the list literal when
    no py4j gateway exists (Spark Connect)."""
    import numpy as np
    from pyspark import SparkContext

    gw = getattr(SparkContext, "_gateway", None)
    if gw is None:  # Spark Connect: no JVM in-process
        signed = [w - (1 << 64) if w >= 1 << 63 else w for w in words]
        return F.lit(signed).cast("array<bigint>")
    from pyspark.sql.column import Column

    arr = np.array(words, dtype=np.uint64).view(np.int64)
    jvm = gw.jvm
    buf = jvm.java.nio.ByteBuffer.wrap(arr.astype(">i8").tobytes())
    jarr = gw.new_array(jvm.long, len(words))
    buf.asLongBuffer().get(jarr)
    return Column(jvm.org.apache.spark.sql.functions.lit(jarr))


def _sampled_hot_probe(
    src: SparkDF,
    id_col: str,
    text_col: str,
    n: int,
    fraction: float = 0.01,
    hot_min: int = 8,
    warm_min: int = 2,
    cap: int = 1 << 16,
    warm_cap: int = 1 << 18,
    seed: int = 97,
):
    """Demotion BAND predicate approximating rarest-first in-row, or
    None if the sample finds nothing repeated: a seeded ``fraction``
    sample of SOURCE docs — sampled BEFORE shingling, so the job
    tokenizes only the slice and never touches (or forces) the
    corpus-sized arrs cache — estimates per-shingle document
    frequency, and each shingle gets a band:

      0 unseen-in-sample (df below ~warm_min/fraction — includes
        every true near-dup gram, whose df is the copy-group size)
      1 warm (sample count >= warm_min): the mid-frequency grams
        that are the false-candidate factories — shared by hundreds
        of docs, so leaving them in prefixes inflates the verify
        join quadratically in their df (measured 29.7 M candidates
        at the 1000x cert with hot-only demotion; two bands cut the
        mid-df mass out of prefixes the way global rarest-first
        ordering does)
      2 hot (sample count >= hot_min)

    Detection floors are ~min/fraction docs ABSOLUTE — corpus-size
    independent, so undetected shingles fan out O(1) candidates each
    and total candidate growth stays linear. Band membership ships
    as two bitmap plan LITERALS (array<bigint> words; ~0.5 MB hot /
    ~2 MB warm at the caps — task binaries are torrent-broadcast
    once per stage) probed in-row: O(1) array index + bit test per
    element, no broadcast variable, no join. Bit position is the
    hash value mod m directly — the driver sets bits with plain
    Python arithmetic, no re-hash. False positives (~1-2%) shift a
    few cold shingles up a band; banding only permutes the global
    order, so the pair set is unchanged. Caps keep the literals
    bounded: the top-count shingles win, exactly the set whose
    buckets matter."""
    sample = _hashed_shingles(
        src.sample(fraction=fraction, seed=seed), id_col, text_col, n
    )
    with stage("jaccard_pairs", "sample"):
        rows = (
            sample.select(F.explode("sh_arr").alias("h"))
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= warm_min)
            .orderBy(F.desc("c"), F.asc("h"))
            .limit(warm_cap)
            .collect()
        )
    if not rows:
        return None
    hot = [r["h"] for r in rows[:cap] if r["c"] >= hot_min]
    warm = [r["h"] for r in rows]

    def bitmap_probe(hashes):
        m_bits = 1 << 16
        while m_bits < 64 * len(hashes) and m_bits < 1 << 25:
            m_bits <<= 1
        words = [0] * (m_bits >> 6)
        for h in hashes:
            pos = h % m_bits  # python % is non-negative, like pmod
            words[pos >> 6] |= 1 << (pos & 63)
        words_lit = _long_array_literal(words)

        def probe(h):
            pos = F.pmod(h, F.lit(m_bits))
            word = F.element_at(
                words_lit, F.shiftright(pos, 6).cast("int") + F.lit(1)
            )
            return (word.bitwiseAND(_bit_at(pos)) != F.lit(0)).cast("int")

        return probe

    warm_probe = bitmap_probe(warm)
    hot_probe = bitmap_probe(hot) if hot else None

    if hot_probe is None:
        return warm_probe

    def band(h):
        # warm ⊇ hot, so the sum is 0 / 1 / 2
        return warm_probe(h) + hot_probe(h)

    return band


def _materialize(df: SparkDF, op: str, step: str) -> None:
    """Eagerly fill a persisted frame's cache with ONE dedicated job,
    tagged ``op:step`` (``plans.trace.stage``), before multiple
    sibling stages consume it. Sibling stages of a
    single job launch concurrently; against a cold cache each block
    is computed by whichever task arrives first while its twin
    BLOCKS on the storage lock holding a scheduler slot — measured
    2.5-2.8x wall inflation on the jaccard big path (see
    jaccard_pairs). Connect sessions without count support skip the
    barrier with a FallbackWarning (once per process): the plan stays
    correct, only the scheduling optimization is lost. The barrier
    never changes a result; its wall effect is committed evidence
    (CERT_barrier_ab.json, the r12 barrier-on vs barrier-off A/B of
    one plan at the 1000x cert corpus)."""
    try:
        with stage(op, step):
            df.count()
    except Exception as exc:  # Connect count quirks
        from ..errors import warn_fallback_once

        warn_fallback_once(
            "dedup._materialize",
            "cache barrier count failed; continuing without it",
            exc,
        )


def _xxh64_np(data, starts, lengths):
    """Vectorized Spark-compatible XXH64 (seed 42) over variable-
    length byte slices of ``data`` — the string-hash analogue of the
    r12 minhash kernel's fixed-8-byte hashLong (guide §4.2).

    ``data`` must be a 1-D uint8 array padded with >= 8 trailing
    bytes beyond the last slice (the word gather over-reads up to 7
    bytes past a slice's end; over-read bytes never influence the
    hash — the fixed op sequence for a given length consumes exactly
    ``length`` bytes, mirroring Catalyst's XXH64.hashUnsafeBytes:
    4-lane 32-byte stripes, remaining 8-byte words, one 4-byte word,
    then single bytes, then the avalanche). Little-endian word reads
    match Platform.getLong on x86. Slices are grouped by exact
    length so each group runs the straight-line numpy op sequence
    for that length; bit-equality with ``F.xxhash64(string)`` is
    pinned for every length 0..100 plus random multi-stripe strings
    by tests/test_dedup.py::test_xxh64_kernel_exact.

    Returns an int64 array (Spark's bigint hash values)."""
    import numpy as np

    U64 = np.uint64
    MASK = 0xFFFFFFFFFFFFFFFF
    P1 = U64(0x9E3779B185EBCA87)
    P2 = U64(0xC2B2AE3D27D4EB4F)
    P3 = U64(0x165667B19E3779F9)
    P4 = U64(0x85EBCA77C2B2AE63)
    P5 = U64(0x27D4EB2F165667C5)
    SEED = 42

    def rotl(x, r):
        return (x << U64(r)) | (x >> U64(64 - r))

    n_all = len(starts)
    out = np.empty(n_all, dtype=np.uint64)
    if n_all == 0:
        return out.view(np.int64)
    order = np.argsort(lengths, kind="stable")
    slens = lengths[order]
    bounds = np.flatnonzero(np.diff(slens)) + 1
    run_starts = np.concatenate(([0], bounds))
    run_ends = np.concatenate((bounds, [n_all]))
    with np.errstate(over="ignore"):
        for rs, re_ in zip(run_starts, run_ends):
            L = int(slens[rs])
            idx = order[rs:re_]
            st = starts[idx]
            m = len(idx)
            nw = (L + 7) >> 3
            if nw:
                gi = st[:, None] + np.arange(nw * 8, dtype=np.int64)
                B = data[gi]
                W = B.view("<u8")
            nblocks = L >> 5
            if nblocks:
                v1 = np.full(m, (SEED + int(P1) + int(P2)) & MASK, dtype=U64)
                v2 = np.full(m, (SEED + int(P2)) & MASK, dtype=U64)
                v3 = np.full(m, SEED, dtype=U64)
                v4 = np.full(m, (SEED - int(P1)) & MASK, dtype=U64)
                for blk in range(nblocks):
                    base = blk * 4
                    v1 = rotl(v1 + W[:, base] * P2, 31) * P1
                    v2 = rotl(v2 + W[:, base + 1] * P2, 31) * P1
                    v3 = rotl(v3 + W[:, base + 2] * P2, 31) * P1
                    v4 = rotl(v4 + W[:, base + 3] * P2, 31) * P1
                h = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
                for v in (v1, v2, v3, v4):
                    h ^= rotl(v * P2, 31) * P1
                    h = h * P1 + P4
            else:
                h = np.full(m, (SEED + int(P5)) & MASK, dtype=U64)
            h = h + U64(L)
            for k in range(nblocks * 4, L >> 3):
                h ^= rotl(W[:, k] * P2, 31) * P1
                h = rotl(h, 27) * P1 + P4
            off = (L >> 3) << 3
            if L - off >= 4:
                i4 = np.ascontiguousarray(B[:, off:off + 4]).view(
                    "<u4"
                ).ravel().astype(U64)
                h ^= i4 * P1
                h = rotl(h, 23) * P2 + P3
                off += 4
            for j in range(off, L):
                h ^= B[:, j].astype(U64) * P5
                h = rotl(h, 11) * P1
            h ^= h >> U64(33)
            h *= P2
            h ^= h >> U64(29)
            h *= P3
            h ^= h >> U64(32)
            out[idx] = h
    return out.view(np.int64)


def _shingle_kernel(n: int):
    """mapInArrow kernel computing EXACTLY the rows of the JVM
    reference chain ``_hash_arrays(shingle_arrays(...))`` — tokenize,
    word-n-gram shingles, per-doc distinct, xxhash64 — from
    (id, __text) batches; output (id, sh_arr:
    array<bigint>, n_sh int), rows with zero shingles dropped (guide
    §4.2: the whole chain is the corpus-scale map stage; at the
    1000x cert it was the top jaccard stage).

    Equivalence with the expression chain, piece by piece (pinned by
    tests/test_dedup.py::test_shingle_kernel_matches_jvm):

    - ``trim``: Spark's trim removes leading/trailing SPACE (0x20)
      only — ``pc.utf8_trim(…, " ")``.
    - ``lower``: ASCII rows take ``pc.ascii_lower`` (identical to
      UTF8String.toLowerCase's ASCII fast path); only the non-ASCII
      rows of a batch take Python ``str.lower()``, the same Unicode
      full case mapping (incl. final sigma) as Java's toLowerCase,
      and are put back in place (``replace_with_mask``).
    - ``split(s, "\\s+")`` + drop-empty-tokens: Java's \\s is the
      ASCII class [ \\t\\n\\x0b\\f\\r]; collapsing runs of exactly
      that class to one space and trimming the (single possible)
      leading/trailing space yields the canonical form in which
      token boundaries are exactly the 0x20 bytes (0x20 never occurs
      inside a multi-byte UTF-8 sequence, and remaining Unicode
      whitespace is NOT a Java \\s match, so both sides keep it
      inside tokens).
    - n-gram windows: window i = tokens[i..i+n-1] joined by one
      space == the SUBSTRING of the canonical form from token i's
      start to token i+n-1's end — windows are pure (offset, length)
      slices, zero string construction.
    - ``xxhash64``: ``_xxh64_np`` over the window slices,
      bit-identical to Catalyst (its own pinned test).
    - ``array_distinct`` THEN hash (JVM) vs hash THEN first-
      occurrence distinct on hash values (kernel): identical rows —
      order included — unless two DISTINCT shingle strings inside
      ONE doc collide in xxhash64 (~n_sh²/2⁶⁵ per doc ≈ 1e-15 at
      150 shingles), the same vanishing in-doc risk _hash_arrays
      already documents for cross-doc intersects. The kernel's n_sh
      would then read one lower; no such doc exists in any test or
      cert corpus (the equality test would catch it).
    """

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0)
            txt = batch.column(1)
            if txt.null_count:
                # JVM: null text → null tokens → n_sh null/-1 → the
                # n_sh > 0 filter drops the row
                keep = pc.is_valid(txt)
                ids = ids.filter(keep)
                txt = txt.filter(keep)
                if len(txt) == 0:
                    continue
            txt = pc.utf8_trim(txt, " ")
            wide = pc.invert(pc.string_is_ascii(txt))
            wide_lower = [s.lower() for s in txt.filter(wide).to_pylist()]
            txt = pc.ascii_lower(txt)
            if wide_lower:
                txt = pc.replace_with_mask(
                    txt, wide, pa.array(wide_lower, type=txt.type)
                )
            txt = pc.replace_substring_regex(
                txt, pattern="[\\t\\n\\x0b\\f\\r ]+", replacement=" "
            )
            txt = pc.utf8_trim(txt, " ")
            nd = len(txt)
            bufs = txt.buffers()
            offs = np.frombuffer(bufs[1], dtype=np.int32)[
                txt.offset: txt.offset + nd + 1
            ].astype(np.int64)
            raw = np.frombuffer(bufs[2], dtype=np.uint8)
            # pad for _xxh64_np's 8-byte word-gather over-read
            data = np.zeros(offs[-1] + 8, dtype=np.uint8)
            data[: offs[-1]] = raw[: offs[-1]]
            # token boundaries: every 0x20 byte separates two tokens
            sp = np.flatnonzero(data[offs[0]: offs[-1]] == 32) + offs[0]
            doc_of_sp = np.searchsorted(offs, sp, side="right") - 1
            doclen = offs[1:] - offs[:-1]
            m_d = np.where(
                doclen > 0,
                np.bincount(doc_of_sp, minlength=nd) + 1,
                0,
            )
            tok_off = np.concatenate(([0], np.cumsum(m_d)))
            n_tok = int(tok_off[-1])
            tok_starts = np.empty(n_tok, dtype=np.int64)
            tok_ends = np.empty(n_tok, dtype=np.int64)
            has = m_d > 0
            first_mask = np.zeros(n_tok, dtype=bool)
            first_mask[tok_off[:-1][has]] = True
            tok_starts[first_mask] = offs[:-1][has]
            tok_starts[~first_mask] = sp + 1
            last_mask = np.zeros(n_tok, dtype=bool)
            last_mask[tok_off[1:][has] - 1] = True
            tok_ends[last_mask] = offs[1:][has]
            tok_ends[~last_mask] = sp
            # windows: W_d = max(0, m_d - (n-1)); window i of doc d
            # spans tokens i..i+n-1
            W_d = np.maximum(m_d - (n - 1), 0)
            woff = np.concatenate(([0], np.cumsum(W_d)))
            n_win = int(woff[-1])
            if n_win == 0:
                continue
            first_tok = np.repeat(tok_off[:-1], W_d) + (
                np.arange(n_win) - np.repeat(woff[:-1], W_d)
            )
            w_start = tok_starts[first_tok]
            w_len = tok_ends[first_tok + (n - 1)] - w_start
            doc_w = np.repeat(np.arange(nd), W_d)
            hashes = _xxh64_np(data, w_start, w_len)
            # per-doc first-occurrence distinct on the hash values:
            # stable sort by (doc, hash) keeps window order inside
            # ties; keep each (doc, hash)'s first window, then
            # restore window order (docs stay contiguous)
            ordr = np.lexsort((hashes, doc_w))
            hs = hashes[ordr]
            ds = doc_w[ordr]
            first = np.ones(n_win, dtype=bool)
            first[1:] = (hs[1:] != hs[:-1]) | (ds[1:] != ds[:-1])
            kept = np.sort(ordr[first])
            sh_flat = hashes[kept]
            n_sh = np.bincount(doc_w[kept], minlength=nd)
            keep_docs = n_sh > 0
            n_sh_kept = n_sh[keep_docs]
            if len(sh_flat) >= (1 << 31):  # pragma: no cover
                raise ValueError(
                    "shingle kernel: batch shingle count overflows "
                    "int32 list offsets; lower "
                    "spark.sql.execution.arrow.maxRecordsPerBatch"
                )
            list_offs = np.zeros(len(n_sh_kept) + 1, dtype=np.int32)
            np.cumsum(n_sh_kept, out=list_offs[1:])
            sh_arr = pa.ListArray.from_arrays(
                pa.array(list_offs),
                pa.array(sh_flat, type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    ids.filter(pa.array(keep_docs)),
                    sh_arr,
                    pa.array(n_sh_kept.astype(np.int32), type=pa.int32()),
                ],
                names=["id", "sh_arr", "n_sh"],
            )

    return kernel


def _hash_arrays(arrs: SparkDF) -> SparkDF:
    """Test reference for ``_hashed_shingles``, on no product path:
    ``_hash_arrays(shingle_arrays(...))`` is the JVM expression chain
    the shingle kernel must reproduce row for row.

    Per-doc shingle arrays mapped to xxhash64 longs — set
    cardinality is preserved (array_distinct ran on the strings;
    a 64-bit in-doc collision is ~n²/2⁶⁴, vanishing), so intersect
    counts are exact while each pairwise comparison touches 8 bytes
    instead of a full shingle string."""
    return arrs.select(
        "id",
        F.transform("sh_arr", lambda s: F.xxhash64(s)).alias("sh_arr"),
        "n_sh",
    )


# Above this many candidate pairs _verify_jaccard's counted path keeps
# the shuffle join: the bare (a_id, b_id) pairs it would broadcast are
# 16-byte rows, so 8 M pairs is a ~128 MB broadcast.
VERIFY_BROADCAST_MAX_PAIRS = 8_000_000


def _verify_jaccard(
    cands: SparkDF,
    arrs: SparkDF,
    threshold: float,
    broadcast_pairs: bool | None = None,
    op: str = "jaccard_pairs",
) -> SparkDF:
    """Exact-Jaccard verification of (a_id, b_id) candidate pairs:
    join each pair to its two per-doc shingle arrays and intersect
    in-row.

    Join shape (r10, reworked r11): the naive ``cands ⋈ arrs ⋈
    arrs`` shuffles the FULL per-doc array table twice — at the
    1000x cert those two ~10 GB exchanges were 140 s of a 167 s
    wall, and static planning can never broadcast ``cands`` (a
    distinct over a self-join has a garbage size estimate). So the
    pair set is persisted and COUNTED — it is candidate-sized, the
    one cardinality worth an eager job — and when it is small
    (<= ``VERIFY_BROADCAST_MAX_PAIRS``) verification goes map-side:

    - only the bare (a_id, b_id) pairs broadcast — 16-byte
      fixed-width rows, so the row limit IS a byte bound (ADVICE r10
      #3 flagged the r10 shape's two broadcasts of cands)
    - the array table is pruned ONCE to candidate docs (broadcast
      semi join on the pairs' distinct ids — at most 2x the pair
      limit of longs) and the pruned frame persists; both verify
      sides read it. The r10 shape scanned the corpus-sized array
      cache twice (a-side join + b-side semi); this shape scans it
      once and every later stage touches candidate-doc-sized data.

    Beyond the limit (pair sets at the scale where a broadcast
    would not fit) the classic shuffle join stands — the arrs
    exchanges are then amortized over proportionally more
    verification work. ``broadcast_pairs`` forces either shape; the
    result is identical. The count and the pruned frame's cache
    barrier run as the steps ``candidates`` and ``needed`` of ``op``
    (``plans.trace.stage``)."""
    if broadcast_pairs is None:
        cands = try_persist(cands)
        try:
            with stage(op, "candidates"):
                broadcast_pairs = cands.count() <= VERIFY_BROADCAST_MAX_PAIRS
        except Exception:  # Spark Connect count quirks: stay lazy
            broadcast_pairs = False
    if broadcast_pairs:
        slim = try_persist(cands.select("a_id", "b_id"))
        need_ids = (
            slim.select(F.col("a_id").alias("id"))
            .union(slim.select(F.col("b_id").alias("id")))
            .distinct()
        )
        needed = try_persist(
            arrs.join(F.broadcast(need_ids), "id", "left_semi")
        )
        # barrier: both verify sides scan `needed`; a cold cache
        # would be raced (see _materialize)
        _materialize(needed, op, "needed")
        a = needed.select(
            F.col("id").alias("a_id"),
            F.col("sh_arr").alias("__a_arr"),
            F.col("n_sh").alias("__na"),
        )
        b = needed.select(
            F.col("id").alias("b_id"),
            F.col("sh_arr").alias("__b_arr"),
            F.col("n_sh").alias("__nb"),
        )
        joined = F.broadcast(slim).join(a, "a_id").join(b, "b_id")
    else:
        a = arrs.select(
            F.col("id").alias("a_id"),
            F.col("sh_arr").alias("__a_arr"),
            F.col("n_sh").alias("__na"),
        )
        b = arrs.select(
            F.col("id").alias("b_id"),
            F.col("sh_arr").alias("__b_arr"),
            F.col("n_sh").alias("__nb"),
        )
        joined = cands.join(a, "a_id").join(b, "b_id")
    common = F.size(F.array_intersect(F.col("__a_arr"), F.col("__b_arr")))
    verified = (
        joined.withColumn("__common", common)
        .withColumn(
            "jaccard",
            F.round(
                F.col("__common")
                / (F.col("__na") + F.col("__nb") - F.col("__common")),
                4,
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified.select("a_id", "b_id", "jaccard")


def duplicated_spans(
    df: SparkDF,
    id_col: str,
    text_col: str,
    window: int = 20,
    min_docs: int = 2,
) -> SparkDF:
    """Cross-document duplicated-SPAN detection — the window-hash
    simplification of the suffix-array method in Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"
    (ACL 2022). Document-level dedup misses boilerplate repeated
    INSIDE otherwise-unique pages (headers, license blocks,
    templated paragraphs); this scores each document by how much of
    it is covered by ``window``-token spans that also appear in at
    least ``min_docs`` documents.

    Returns (id, n_windows, n_dup_windows, dup_span_frac) — filter
    on ``dup_span_frac`` to drop template-heavy documents, distinct
    from repetition_metrics (IN-doc repetition) and jaccard/minhash
    (whole-doc near-duplication).

    Plan: per-doc distinct window hashes built IN-ROW (token
    shingles → xxhash64, a narrow projection), one explode, one
    (hash)-keyed count agg with map-side partials, and a key-
    partitioned join back — size-of-data everywhere, no pairwise
    work. In-doc repeats collapse via the distinct so ``df`` counts
    documents, mirroring the paper's cross-document criterion."""
    toks = F.filter(tokens_expr(text_col), lambda x: x != F.lit(""))
    spans = F.transform(
        shingle_array_expr(toks, window), lambda s: F.xxhash64(s)
    )
    # persisted (r6): the window-hash stream feeds BOTH the span
    # frequency agg and the join-back, and AQE does not reuse the
    # exchange across the two consumers — without this the tokenize
    # + 20-gram shingle build ran twice. Cached pre-explode (one row
    # per doc, 8 B per window hash).
    arrs = try_persist(
        df.select(F.col(id_col).alias("id"), spans.alias("__spans"))
    )
    win = arrs.select("id", F.explode("__spans").alias("__h"))
    wfreq = (
        win.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") >= min_docs)
        .withColumn("__dup", F.lit(1))
    )
    return (
        win.join(wfreq.select("__h", "__dup"), "__h", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count("__dup").alias("n_dup_windows"),
        )
        .withColumn(
            "dup_span_frac",
            F.round(
                F.col("n_dup_windows")
                / F.nullif(F.col("n_windows").cast("double"), F.lit(0.0)),
                4,
            ),
        )
    )


def remove_duplicated_spans(
    df: SparkDF,
    id_col: str,
    text_col: str,
    window: int = 20,
    min_docs: int = 2,
) -> SparkDF:
    """Exact substring dedup — the CLEANING counterpart of
    ``duplicated_spans`` (Lee et al. ACL 2022; the RefinedWeb
    pipeline's "exact substring deduplication" stage). Where the
    scorer only reports how template-heavy each document is, this
    REWRITES the corpus: every ``window``-token span occurring in at
    least ``min_docs`` documents keeps exactly ONE canonical
    occurrence (the smallest (id, position) — deterministic) and
    every token covered by any other occurrence is removed.

    Returns (id, n_tokens, n_removed, clean_text) — clean_text is
    rebuilt from the surviving tokens (lowercased,
    whitespace-normalized, like every token-level operator here).
    A token survives unless a NON-canonical duplicated window covers
    it; tokens of a canonical occurrence can still fall to a
    different overlapping duplicated window, exactly as in the
    suffix-array formulation.

    Plan (size-of-data everywhere, no pairwise work): positional
    window hashes are built IN-ROW with the aligned-slice zip_with
    stitch (NOT distinct — removal needs every occurrence, unlike
    the scorer), then one posexplode; one hash-keyed agg finds
    (distinct-doc count, canonical occurrence) with map-side
    partials; non-canonical occurrences join back (key-partitioned,
    AQE-skew-safe — a boilerplate span repeated millions of times is
    a hot KEY, not a hot window partition); removal itself is an
    in-row filter of the token array against the doc's duplicated
    start positions (O(tokens x dup-starts) per row in codegen'd
    JVM expressions). xxhash64 window identity: a cross-corpus
    collision (~n²/2⁻⁶⁴) could remove one innocent span — the same
    accepted trade as ``_hash_arrays``."""
    toks_e = F.coalesce(
        F.filter(tokens_expr(text_col), lambda x: x != F.lit("")),
        F.array().cast("array<string>"),
    )
    toked = try_persist(
        df.select(F.col(id_col).alias("id"), toks_e.alias("__toks"))
    )
    hashes = F.transform(
        window_array_expr(F.col("__toks"), window), lambda s: F.xxhash64(s)
    )
    wins = try_persist(
        toked.select("id", F.posexplode(hashes)).withColumnRenamed(
            "col", "__h"
        )
    )
    canon = (
        wins.groupBy("__h")
        .agg(
            F.count_distinct("id").alias("__nd"),
            F.min(F.struct("id", "pos")).alias("__w0"),
        )
        .where(F.col("__nd") >= min_docs)
        .select("__h", "__w0")
    )
    dup_starts = (
        wins.join(canon, "__h")
        .where(
            ~(
                (F.col("id") == F.col("__w0").getField("id"))
                & (F.col("pos") == F.col("__w0").getField("pos"))
            )
        )
        .groupBy("id")
        .agg(F.collect_list("pos").alias("__ss"))
    )
    with_ss = toked.join(dup_starts, "id", "left").withColumn(
        "__ss", F.coalesce(F.col("__ss"), F.array().cast("array<int>"))
    )
    kept_expr = F.filter(
        F.transform(
            "__toks", lambda x, i: F.struct(x.alias("t"), i.alias("i"))
        ),
        lambda s: ~F.exists(
            F.col("__ss"),
            lambda st: (st <= s["i"]) & (s["i"] < st + F.lit(window)),
        ),
    )
    # one-element explode = CollapseProject barrier: the O(tokens x
    # dup-starts) filter must evaluate once, not once per consumer
    kept = with_ss.select(
        "id",
        F.size("__toks").cast("long").alias("n_tokens"),
        F.explode(F.array(kept_expr)).alias("__kept"),
    )
    return kept.select(
        "id",
        "n_tokens",
        (F.col("n_tokens") - F.size("__kept")).cast("long").alias(
            "n_removed"
        ),
        F.array_join(
            F.transform("__kept", lambda s: s["t"]), " "
        ).alias("clean_text"),
    )


def dedup_paragraphs(
    df: SparkDF,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    min_chars: int = 1,
) -> SparkDF:
    """Paragraph/line-level exact dedup — the RefinedWeb "line-wise
    corrections" / CCNet paragraph-dedup stage (Penedo et al. 2023
    §3; Wenzek et al. 2020 §2). Whole-doc dedup misses boilerplate
    lines shared across otherwise-unique pages; span dedup
    (``remove_duplicated_spans``) ignores the document's own
    structure. This splits each document on ``sep``, keeps exactly
    ONE canonical occurrence of every duplicated paragraph — the
    smallest (id, index), deterministic — and rewrites the corpus
    with the survivors rejoined by ``sep``. Paragraphs shorter than
    ``min_chars`` after trimming (headings, blank structure lines)
    always survive: removing them destroys layout without saving
    tokens.

    Returns (id, n_paras, n_removed, clean_text); clean_text is ''
    for a document whose every paragraph was removed, and a null
    ``text_col`` coalesces to the empty document rather than
    dropping the row.

    Plan (size-of-data, no pairwise work): one split + posexplode,
    canonical owners from one agg keyed on the paragraph's xxhash64
    (8 B shuffle keys, never the paragraph string; HAVING count >= 2
    so unique paragraphs skip the join entirely), one hash-keyed
    join back (AQE-skew-safe — a boilerplate line repeated millions
    of times is a hot key, not a hot partition), and one per-doc
    agg to reassemble. Hash identity accepts the same ~2^-64
    collision trade as ``remove_duplicated_spans``."""
    import re as _re

    parts = try_persist(
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(
                F.split(
                    F.coalesce(F.col(text_col), F.lit("")),
                    _re.escape(sep),
                )
            ).alias("idx", "__para"),
        ).withColumn("__norm", F.trim("__para"))
    )
    cand = parts.where(F.length("__norm") >= min_chars)
    canon = (
        cand.groupBy(F.xxhash64("__norm").alias("__h"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(F.struct("id", "idx")).alias("__w0"),
        )
        .where(F.col("__n") >= 2)
        .select("__h", "__w0")
    )
    flagged = parts.join(
        canon, F.xxhash64("__norm") == F.col("__h"), "left"
    ).withColumn(
        "__keep",
        (F.length("__norm") < min_chars)
        | F.col("__w0").isNull()
        | (
            (F.col("id") == F.col("__w0").getField("id"))
            & (F.col("idx") == F.col("__w0").getField("idx"))
        ),
    )
    return flagged.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum(F.when(~F.col("__keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.array_join(
            F.transform(
                # collect_list drops the nulls of removed paragraphs
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__keep"),
                            F.struct("idx", F.col("__para").alias("p")),
                        )
                    )
                ),
                lambda s: s["p"],
            ),
            sep,
        ).alias("clean_text"),
    )


def source_overlap(
    df: SparkDF, source_col: str, text_col: str, n: int = 3
) -> SparkDF:
    """Inter-source n-gram overlap matrix: for every pair of corpus
    sources, the number of DISTINCT word n-gram shingles they share
    — (source_a, source_b, n_shared), a < b. The cross-source twin
    of decontamination: high overlap between two ingest sources
    flags mirrored / syndicated content before it inflates a
    training mix.

    Plan: per-(source, shingle) distinct set via the narrow in-row
    shingle build + one explode + distinct shuffle (size-of-data),
    then ``collect_set(source)`` per shingle — state bounded by the
    source count, an operational handful — and IN-ROW pair
    expansion. No self-join: a join formulation would compute the
    distinct shingle stream twice (column pruning defeats exchange
    reuse across the two branches) and shuffle it a third time for
    the join; this shape computes it once and the per-shingle agg
    state can never exceed #sources."""
    arrs = shingle_arrays(df, source_col, text_col, n)
    sh = (
        arrs.select(F.col("id").alias("source"), F.explode("sh_arr").alias("shingle"))
        .distinct()
    )
    sets = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_set("source")).alias("__ss"))
        .where(F.size("__ss") >= 2)
    )
    ss = F.col("__ss")
    pairs = F.flatten(
        F.transform(
            ss,
            lambda a, i: F.transform(
                F.slice(ss, i + 2, F.size(ss)),
                lambda b: F.struct(a.alias("source_a"), b.alias("source_b")),
            ),
        )
    )
    return (
        sets.select(F.explode(pairs).alias("__p"))
        .groupBy(
            F.col("__p.source_a").alias("source_a"),
            F.col("__p.source_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# bench sets whose raw-text plan estimate exceeds this shuffle-join
# instead of riding as one in-row array (~8 B per distinct shingle
# PER TASK when broadcast — fine for real eval suites, wrong once
# the "bench" side is itself corpus-sized)
BENCH_BROADCAST_MAX_BYTES = 4 * 1024 * 1024


def contamination_scores(
    df: SparkDF,
    id_col: str,
    text_col: str,
    bench_df: SparkDF,
    bench_text_col: str,
    n: int = 5,
) -> SparkDF:
    """Benchmark decontamination: per corpus document, the fraction
    of its distinct word n-grams that also occur in the benchmark
    set — (id, n_sh, n_contaminated, contamination). Docs with zero
    overlap are dropped (callers treat absence as clean).

    The benchmark's distinct shingle set is the join's build side:
    eval suites are tiny relative to a training corpus, so the
    default collects their xxhash64'd shingles into ONE broadcast
    array row and scores each corpus doc IN-ROW with array_intersect
    — a single narrow pass over the corpus, no explode fan-out and
    no per-doc groupBy shuffle (the 8-byte hashes make the set
    compact; a cross-set collision could only add ~1/2^64 noise to a
    count). The in-row pass costs O(corpus_rows × bench_set) though,
    so it GATES on the bench plan's size estimate (the summarize
    pattern): above BENCH_BROADCAST_MAX_BYTES it shuffle-joins
    instead — one corpus explode + one count groupBy, O(corpus +
    bench) at any scale (caught by the r5 full-headline 10x sweep:
    the in-row path went super-linear when the bench side grew with
    the corpus). Both paths produce identical rows. The corpus side
    is hashed by the shingle kernel (``_hashed_shingles``,
    unpersisted); the bench side, an exploded string set with no id
    column, stays an expression chain."""
    from ..plans.stats import plan_size_bytes

    broadcast_bench = plan_size_bytes(bench_df) <= BENCH_BROADCAST_MAX_BYTES
    corpus = _hashed_shingles(df, id_col, text_col, n)
    bench_toks = F.filter(tokens_expr(bench_text_col), lambda x: x != F.lit(""))
    bench = bench_df.select(
        F.explode(shingle_array_expr(bench_toks, n)).alias("__s")
    ).select(F.xxhash64("__s").alias("shingle"))
    return contamination_scores_hashed(corpus, bench, broadcast_bench)


def contamination_scores_hashed(
    corpus: SparkDF, bench: SparkDF, broadcast_bench: bool
) -> SparkDF:
    """contamination_scores over pre-hashed inputs: ``corpus`` is an
    (id, sh_arr: array<bigint>, n_sh) frame, ``bench`` a (shingle:
    bigint) frame. Split out (r6) so callers scoring a corpus that
    other operators already shingled can pass the SHARED persisted
    hashed-arrays frame (hashed_shingle_arrays) for both sides and
    skip re-tokenizing entirely."""
    if broadcast_bench:
        bench_row = bench.agg(F.collect_set("shingle").alias("__bench"))
        hits = (
            corpus.join(F.broadcast(bench_row))
            .select(
                "id",
                "n_sh",
                F.size(F.array_intersect("sh_arr", "__bench")).alias(
                    "n_contaminated"
                ),
            )
            .where(F.col("n_contaminated") > 0)
        )
    else:
        hits = (
            corpus.select("id", "n_sh", F.explode("sh_arr").alias("shingle"))
            .join(bench.distinct(), "shingle")
            .groupBy("id", "n_sh")
            .agg(F.count(F.lit(1)).alias("n_contaminated"))
        )
    return hits.select(
        "id",
        "n_sh",
        "n_contaminated",
        F.round(
            F.col("n_contaminated")
            / F.nullif(F.col("n_sh").cast("double"), F.lit(0.0)),
            4,
        ).alias("contamination"),
    )


# --- edit-distance (fuzzy key) pairs ----------------------------------


def edit_distance_pairs(
    df: SparkDF,
    id_col: str,
    text_col: str,
    k: int = 2,
    q: int = 2,
    dedup_values: bool = True,
) -> SparkDF:
    """All pairs (a < b) with levenshtein(a, b) <= k — EXACT result
    via Ed-Join-style q-gram prefix filtering (Xiao et al., VLDB'08
    family), the entity-resolution companion to ``jaccard_pairs``
    for short fuzzy keys (names, codes, titles).

    ``dedup_values`` (default) first collapses identical strings to
    one row (representative id = min id), so the output is pairs of
    DISTINCT values at distance 1..k. This is the scale-correct
    contract: real key corpora have huge exact-duplicate groups, and
    expanding a g-copy group against itself is O(g²) pairs that say
    nothing fuzzy matching needs to say — exact duplicates belong to
    ``exact_dedup``. Pass False for raw id-level pairs (including
    distance 0) on corpora known to be duplicate-light.

    Losslessness: one edit changes at most q of a string's distinct
    q-gram TYPES, so ed(a,b) <= k forces the gram sets to overlap by
    at least max(|Ga|,|Gb|) - q*k; under any shared total order two
    such sets must collide within their first q*k + 1 grams. Using
    (df asc, hash asc) as that order makes the prefixes exactly the
    grams with the smallest join buckets, and df==1 grams — which
    sort first and can never collide across strings — consume prefix
    slots WITHOUT being emitted, so the candidate join only ever
    touches repeated grams. Candidates then verify with the built-in
    levenshtein. Shuffles: gram dfreq agg (broadcast back), the
    per-string repeated-gram groupBy, the candidate join, and the
    two verify joins — all bounded by data or candidate size, never
    the quadratic pair space.

    The overlap bound is vacuous when BOTH strings have at most q*k
    grams (then ed <= k requires no shared gram at all — e.g. 'ab'
    vs 'zz' at k=2): such strings are shorter than q*k + q chars,
    so all pairs among that short-string population are recovered
    from a dedicated block join (assumed a vanishing fraction of
    real key corpora; pairs of a short with a longer-than-q*k-grams
    string still must share a prefix gram and ride the main path)."""
    pre_len = q * k + 1
    base = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("s")
    ).where(F.col("s").isNotNull())
    if dedup_values:
        base = base.groupBy("s").agg(F.min("id").alias("id"))
    grams_arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length("s") - (q - 1)),
            lambda i: F.xxhash64(F.col("s").substr(i, F.lit(q))),
        )
    )
    arrs = try_persist(
        base.select(
            "id",
            "s",
            F.length("s").alias("len"),
            F.when(F.length("s") >= q, grams_arr)
            .otherwise(F.array().cast("array<bigint>"))
            .alias("g_arr"),
        ).withColumn("n_g", F.size("g_arr"))
    )
    exploded = arrs.select("id", "len", "n_g", F.explode("g_arr").alias("g"))
    dfreq = (
        exploded.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= 2)
    )
    # same auto-gate as jaccard_pairs: the repeated-gram vocabulary
    # grows with the corpus, so only force the broadcast below a
    # small-input plan-size bound
    from ..plans.stats import plan_size_bytes

    dfreq_side = (
        F.broadcast(dfreq) if plan_size_bytes(df) <= _BIG_PATH_KNEE else dfreq
    )
    rep = exploded.join(dfreq_side, "g")
    per_str = rep.groupBy("id", "len", "n_g").agg(
        F.sort_array(F.collect_list(F.struct("df", "g"))).alias("__reps")
    )
    n1 = F.col("n_g") - F.size("__reps")
    keep = (F.lit(pre_len) - n1).cast("int")  # repeated slots in the prefix
    # persisted (r6): the candidate self-join reads prefix twice and
    # AQE does not reuse the exchange across the two aliased
    # projections — without this the dfreq + regroup lineage ran
    # once per side (see jaccard_pairs)
    prefix = try_persist(
        per_str.select(
            "id",
            "len",
            F.explode(
                F.slice("__reps", F.lit(1), F.greatest(keep, F.lit(0)))
            ).alias("e"),
        ).select("id", "len", F.col("e.g").alias("g"))
    )
    a = prefix.select(F.col("id").alias("a_id"), "g", F.col("len").alias("__la"))
    b = prefix.select(F.col("id").alias("b_id"), "g", F.col("len").alias("__lb"))
    # no .distinct() here: the union below deduplicates once — an
    # inner distinct would shuffle the largest intermediate twice
    cands = (
        a.join(b, "g")
        .where(
            (F.col("a_id") < F.col("b_id"))
            & (F.abs(F.col("__la") - F.col("__lb")) <= k)
        )
        .select("a_id", "b_id")
    )
    # short-string block: strings with <= q*k grams (len < q*k + q)
    # may pair within the block without sharing any gram. Banded by
    # LENGTH instead of a broadcast crossJoin (review r5): a pair
    # needs |la - lb| <= k, so the b side replicates to its 2k+1
    # admissible lengths and the join is a distributed hash join on
    # the length key — no driver-sized broadcast of the whole short
    # population. Same-length fan-out is semantic (all such pairs
    # ARE candidates); dedup_values collapses duplicates first,
    # bounding the block by DISTINCT short values.
    shorts = arrs.where(F.col("len") < q * k + q).select("id", "len")
    s_a = shorts.select(
        F.col("id").alias("a_id"),
        F.col("len").alias("__la"),
        F.col("len").alias("__lband"),
    )
    s_b = shorts.select(
        F.col("id").alias("b_id"),
        F.col("len").alias("__lb"),
        F.explode(
            F.sequence(F.col("len") - k, F.col("len") + k)
        ).alias("__lband"),
    )
    short_pairs = (
        s_a.join(s_b, "__lband")
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
    )
    all_cands = cands.unionByName(short_pairs).distinct()
    sa = arrs.select(F.col("id").alias("a_id"), F.col("s").alias("__sa"))
    sb = arrs.select(F.col("id").alias("b_id"), F.col("s").alias("__sb"))
    return (
        all_cands.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("dist", F.levenshtein("__sa", "__sb"))
        .where(F.col("dist") <= k)
        .select("a_id", "b_id", "dist")
    )


# --- MinHash + LSH ----------------------------------------------------


def minhash_signatures(
    df: SparkDF,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
) -> SparkDF:
    """(id, sig: array<bigint>) — num_perm min-hashes per document.

    Each shingle string is hashed ONCE to a long; permutation i is
    then xxhash64(h, seed=i) over the fixed 8-byte value — num_perm
    re-hashes of 8 bytes instead of num_perm full string hashes
    (the string hash dominates at realistic shingle lengths). The
    whole signature is computed IN-ROW over the per-doc shingle
    array: a narrow projection fused into the scan, ZERO shuffles —
    the former explode + 64-way min-agg formulation paid a full
    shuffle of every (id, hash) row for the same result (2x slower
    at sf0.1). Both the shingle hashes and the num_perm×|sh_arr|
    hash loop run as mapInArrow kernels (``_hashed_shingles``,
    ``_minhash_sigs_frame``), bit-identical to the expression
    references the tests compare them with."""
    return _minhash_sigs_frame(
        _hashed_shingles(df, id_col, text_col, n), num_perm
    )


def _minhash_sig_expr(num_perm: int):
    """array<bigint> minhash signature over a hashed shingle array —
    the test reference ``_minhash_sig_kernel`` is compared with, on
    no product path.

    ONE nested higher-order expression — the permutation loop runs at
    RUNTIME over ``sequence(0, num_perm-1)`` instead of unrolling
    num_perm ``array_min ∘ transform`` subtrees at plan-build time.
    Identical values (xxhash64(h, i) hashes the int pair the same
    whether i is a literal or the outer lambda variable), but the
    expression tree is ~num_perm× smaller: the unrolled form cost
    ~0.9 s of py4j construction + analysis PER DataFrame build,
    which bench pays on every pass (r6). Both lambdas are single-
    parameter, so the r5 arity trap (PySpark passes the array index
    as a second lambda arg, silently shadowing the permutation
    index) cannot re-occur here."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_perm - 1)),
        lambda i: F.array_min(
            F.transform("sh_arr", lambda h: F.xxhash64(h, i))
        ),
    )


def _minhash_sig_kernel(num_perm: int):
    """mapInArrow kernel computing EXACTLY ``_minhash_sig_expr``'s
    values (guide §4.2: hand whole batches to vectorized native
    code). Input batches: (id, sh_arr: array<bigint>); output:
    (id, sig: array<bigint>).

    Bit-equivalence with the JVM expression (pinned by
    tests/test_dedup.py::test_minhash_sig_kernel_matches_jvm):
    Spark's ``xxhash64(h, i)`` folds left over its arguments —
    ``hashInt(i, seed=hashLong(h, 42))`` in Catalyst's XXH64 — so
    the inner ``hashLong`` is computed ONCE per shingle hash and
    each permutation pass is ~15 vectorized uint64 ops over the
    batch's flattened values plus one ``np.minimum.reduceat``
    segment-min (signed int64 view: ``array_min`` over bigint
    compares signed). uint64 arithmetic wraps modulo 2⁶⁴ exactly
    like Java long arithmetic. The JVM higher-order expression
    evaluates the full two-argument hash per (element, permutation)
    through interpreted lambda plumbing with a per-permutation
    array allocation — the kernel replaces num_perm×|sh_arr|
    interpreted evaluations per row with C-speed passes."""

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        U64 = np.uint64
        M = 0xFFFFFFFFFFFFFFFF
        P1 = U64(0x9E3779B185EBCA87)
        P2 = U64(0xC2B2AE3D27D4EB4F)
        P3 = U64(0x165667B19E3779F9)
        P4 = U64(0x85EBCA77C2B2AE63)
        # hashLong's seed prefix (seed=42) and hashInt's, both
        # constant-folded: 42 + PRIME64_5 + 8 resp. PRIME64_5 + 4
        SEED_L = U64((42 + 0x27D4EB2F165667C5 + 8) & M)
        INT_PFX = U64((0x27D4EB2F165667C5 + 4) & M)
        # per-permutation constant (i & 0xffffffff) * PRIME64_1
        IP1 = [U64((i * 0x9E3779B185EBCA87) & M) for i in range(num_perm)]

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            arr = batch.column(1)
            if arr.null_count:
                # impossible from shingle_arrays (n_sh > 0 filter);
                # fail loudly rather than guess a null-list encoding
                raise ValueError("minhash kernel: null sh_arr row")
            lens = np.asarray(pc.list_value_length(arr)).astype(np.int64)
            vals = np.asarray(arr.flatten()).view(U64)
            with np.errstate(over="ignore"):
                # hashLong(v, 42), vectorized, then hoist hashInt's
                # seed prefix (the add precedes the per-perm xor)
                h = vals * P2
                h = ((h << U64(31)) | (h >> U64(33))) * P1
                h = SEED_L ^ h
                h = ((h << U64(27)) | (h >> U64(37))) * P1 + P4
                h ^= h >> U64(33)
                h *= P2
                h ^= h >> U64(29)
                h *= P3
                h ^= h >> U64(32)
                h += INT_PFX
                cs = np.zeros(n + 1, dtype=np.int64)
                np.cumsum(lens, out=cs[1:])
                nz = lens > 0
                starts = cs[:-1][nz]
                out = np.zeros((n, num_perm), dtype=np.int64)
                for i in range(num_perm):
                    g = h ^ IP1[i]
                    g = ((g << U64(23)) | (g >> U64(41))) * P2 + P3
                    g ^= g >> U64(33)
                    g *= P2
                    g ^= g >> U64(29)
                    g *= P3
                    g ^= g >> U64(32)
                    if starts.size:
                        out[nz, i] = np.minimum.reduceat(
                            g.view(np.int64), starts
                        )
            if n * num_perm >= (1 << 31):  # pragma: no cover
                # ADVICE r12 #3: a raised arrow.maxRecordsPerBatch
                # could overflow int32 list offsets — fail loudly
                # instead of corrupting signatures
                raise ValueError(
                    "minhash kernel: batch rows x num_perm overflows "
                    "int32 list offsets; lower "
                    "spark.sql.execution.arrow.maxRecordsPerBatch"
                )
            offsets = pa.array(
                np.arange(n + 1, dtype=np.int32) * num_perm
            )
            if nz.all():
                values = pa.array(out.ravel(), type=pa.int64())
            else:
                # empty sh_arr: array_min(empty) is null per entry
                values = pa.array(
                    out.ravel(),
                    type=pa.int64(),
                    mask=np.repeat(~nz, num_perm),
                )
            sig = pa.ListArray.from_arrays(offsets, values)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), sig], names=["id", "sig"]
            )

    return kernel


def _minhash_sigs_frame(src: SparkDF, num_perm: int) -> SparkDF:
    """(id, sig) over a frame carrying (id, sh_arr), computed by
    ``_minhash_sig_kernel``; values are bit-identical to the
    ``_minhash_sig_expr`` reference (test-pinned)."""
    id_type = src.schema["id"].dataType.simpleString()
    # explicit select: mapInArrow is opaque to column pruning —
    # without it the kernel would be shipped every source column
    return src.select("id", "sh_arr").mapInArrow(
        _minhash_sig_kernel(num_perm), f"id {id_type}, sig array<bigint>"
    )


def lsh_candidate_pairs(
    sigs: SparkDF,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket: int | None = None,
    persist_bands: bool = False,
) -> SparkDF:
    """Banding: docs sharing any band-signature become candidates.

    Band signature = hash of its slice of the minhash signature; the
    groupable key makes candidate generation a hash join on
    (band_idx, band_hash) — the standard near-linear LSH plan.

    ``max_bucket`` (default off) caps each band bucket at its first
    ``max_bucket`` members in deterministic id order before pairing —
    the per-bucket candidate count is then bounded by max_bucket²
    regardless of how degenerate the bucket is. This TRADES RECALL
    for a hard worst-case bound (dropped members can only pair
    through their other bands), so it is an explicit opt-in, not a
    silent default; identical-signature degeneracy is instead
    removed losslessly upstream (minhash_dedup_pairs collapses
    duplicate shingle sets before banding).

    Band signature (r13): ``xxhash64`` over the LONG SLICE directly.
    The r5-r12 form stringified every signature element and hashed
    the comma-joined text — bands × rows_per_band long→string casts
    plus a concat per doc, interpreted, and computed TWICE (the
    self-join's two sides re-derive ``banded`` from the sigs cache).
    Any deterministic injective-up-to-collisions function of the
    slice yields the SAME candidate semantics: docs with an
    identical band slice always collide under either form (LSH's
    recall curve is untouched), and differing slices collide only
    at the ~2⁻⁶⁴ xxhash64 rate — the same vanishing, verify-checked
    risk the shingle pipeline already documents. Measured at the
    1000x cert corpus: the full candidates stage (both A/B'd with
    the banded frame persisted) 49-58 s string-hash → 41.5-42.2 s
    array-hash, with a BYTE-IDENTICAL candidate set (241,556).

    ``persist_bands`` (r13) caches + materializes the slim banded
    frame before the self-join so band hashing runs ONCE instead of
    once per join side — interleaved A/B at the 1000x cert corpus:
    80.4-82.9 s (shipped r12 shape) → 49-58 s persisted. Off by
    default: at bench scale the extra cache write + barrier count
    cost more than the recompute (the same fixed-stage reasoning as
    every other `big` knee); minhash_dedup_pairs passes its
    ``_BIG_PATH_KNEE`` input-plan gate. With ``persist_bands=True``
    the call itself runs a Spark job (the cache barrier's count, step
    ``lsh_candidate_pairs:bands``), and the banded frame stays cached
    after the call (see ``plans.cache``)."""
    if rows_per_band < 1:
        # e.g. num_perm // bands with bands > num_perm: every band
        # slice would be empty and hash to ONE constant bucket — a
        # silent O(n²) all-pairs join (review r5)
        raise ValueError("rows_per_band must be >= 1")
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
        ),
    )
    banded = sigs.select(
        "id", F.posexplode(band_arr).alias("band_idx", "band_hash")
    )
    if persist_bands:
        banded = try_persist(banded)
        # barrier: the self-join consumes the cache from two sides
        # (see _materialize — a cold cache would be raced)
        _materialize(banded, "lsh_candidate_pairs", "bands")
    if max_bucket is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy("band_idx", "band_hash").orderBy("id")
        banded = (
            banded.withColumn("__bn", F.row_number().over(w))
            .where(F.col("__bn") <= max_bucket)
            .drop("__bn")
        )
    a = banded.select(F.col("id").alias("a_id"), "band_idx", "band_hash")
    b = banded.select(F.col("id").alias("b_id"), "band_idx", "band_hash")
    pairs = a.join(b, on=["band_idx", "band_hash"]).where(
        F.col("a_id") < F.col("b_id")
    )
    return pairs.select("a_id", "b_id").distinct()


def minhash_dedup_pairs(
    df: SparkDF,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    max_bucket: int | None = None,
) -> SparkDF:
    """Full pipeline: minhash → LSH candidates → exact-Jaccard verify.

    The verify join re-uses the per-doc shingle arrays, so false
    positives from banding never survive; false-negative rate is the
    standard (1 - s^r)^b curve. The verify is jaccard_pairs': a
    candidate pair is kept when its Jaccard, rounded to 4 decimals,
    is >= threshold, and ``jaccard`` is that rounded value.

    Documents with IDENTICAL shingle sets collapse to one
    representative before banding (the fuzzy-pairs distinct-value
    collapse, applied to the LSH hot-bucket failure mode): a corpus
    with thousands of byte-identical documents otherwise shares
    every band bucket and pairs quadratically inside the LSH join.
    Collapsed groups re-expand afterward — in-group pairs are
    Jaccard 1.0 by construction and cross-group pairs inherit the
    representative pair's verified score — so the OUTPUT is
    identical to the uncollapsed plan; only the candidate join is
    spared the quadratic blowup. ``max_bucket`` additionally caps
    surviving band buckets (recall-trading, off by default; see
    lsh_candidate_pairs). Shingle hashes and signatures come from
    the mapInArrow kernels at every input size
    (``hashed_shingle_arrays``, ``_minhash_sigs_frame``)."""
    if bands < 1 or num_perm % bands != 0:
        # non-divisible num_perm would silently discard trailing
        # signature rows; bands > num_perm would degenerate to one
        # global bucket (review r5)
        raise ValueError(
            f"num_perm ({num_perm}) must be a positive multiple of "
            f"bands ({bands})"
        )
    # the hashed-arrays plan is IDENTICAL to jaccard_pairs', so both
    # operators share one cache entry; __g goes on top of the cache
    arrs_h = hashed_shingle_arrays(df, id_col, text_col, n)
    from ..plans.stats import plan_size_bytes

    # _BIG_PATH_KNEE gates the fixed-stage mechanisms (the counted
    # broadcast-verify, the sigs cache barrier, the persisted bands)
    big = plan_size_bytes(df) > _BIG_PATH_KNEE
    # group stats shuffle ONLY (group-hash, id) pairs — the shingle
    # arrays never move for the collapse; representative rows are
    # then picked by a narrow join (the gstats side is 2 slim
    # columns, so AQE broadcasts it at moderate scale and falls back
    # to an id-shuffle join beyond that)
    gstats = try_persist(
        arrs_h.select(
            "id", F.xxhash64(F.array_sort("sh_arr")).alias("__g")
        )
        .groupBy("__g")
        .agg(
            F.min("id").alias("id"),
            F.sort_array(F.collect_list("id")).alias("__mids"),
        )
    )
    # the band join ships SLIM rows only (r12): the r6-r11 plan
    # carried the __mids member arrays through banding so the
    # expansion needed no joins back onto gstats — cheap at sf0.1,
    # but the r12 1000x stage profile put the band self-join at
    # 145.5 s of a 265.8 s staged wall: each of its two exchanges
    # moved bands x n_docs rows DRAGGING an array cell, and array
    # serialization dominated the shuffle. Passengers now re-join at
    # CANDIDATE scale below (two joins against the persisted gstats,
    # survivor-sized stream side that AQE broadcasts at runtime) —
    # the banding exchanges carry 24-byte (id, band_idx, band_hash)
    # rows, nothing else. Same output, candidate set unchanged.
    # persisted (r6): the band self-join consumes sigs on both sides
    # and AQE does not reuse the exchange across the two aliased
    # projections — without the persist the num_perm×|sh_arr|
    # signature hashing ran once per side
    sigs = try_persist(
        _minhash_sigs_frame(arrs_h.join(gstats.select("id"), "id"), num_perm)
    )
    if big:
        # barrier: the banded frame (persisted below) derives from
        # the sigs cache; materialize sigs first so the banding pass
        # reads a warm cache instead of racing a cold one (see
        # _materialize — the num_perm x |sh_arr| signature hashing
        # is the most expensive map work here)
        _materialize(sigs, "minhash_dedup_pairs", "sigs")
    # the banded frame persists above the knee (r13): the band
    # self-join otherwise re-derives band_arr from the sigs cache
    # once per side — see lsh_candidate_pairs
    cands = lsh_candidate_pairs(
        sigs, bands, num_perm // bands, max_bucket, persist_bands=big
    )
    # candidate ids are representatives, so verifying against the
    # FULL cached array table picks exactly the rep rows — no
    # separate rep frame to scan three times. The counted
    # broadcast-verify (r10) only pays its eager count when the
    # corpus is big enough for the full-array shuffles to matter
    # (_BIG_PATH_KNEE)
    rep_pairs = _verify_jaccard(
        cands, arrs_h, threshold, None if big else False, "minhash_dedup_pairs"
    )
    # member lists re-attach on the VERIFIED survivors — orders of
    # magnitude fewer rows than the banding exchanges the arrays no
    # longer ride (the slim-band trade above); gstats is persisted,
    # so each join is a cache scan with the survivor side as the
    # runtime-small build AQE broadcasts
    rep_pairs = rep_pairs.join(
        gstats.select(
            F.col("id").alias("a_id"), F.col("__mids").alias("__a___mids")
        ),
        "a_id",
    ).join(
        gstats.select(
            F.col("id").alias("b_id"), F.col("__mids").alias("__b___mids")
        ),
        "b_id",
    )

    # in-group pairs (identical sets ⇒ Jaccard exactly 1.0) enter as
    # SELF pair rows of each multi-member group — a narrow filter of
    # the persisted gstats, no join; the shared expansion below
    # emits each unordered in-group pair once via the __x < __y
    # guard (cross-group pairs keep least/greatest ordering: member
    # ids of different groups do not order consistently with their
    # representatives')
    selfp = gstats.where(F.size("__mids") > 1).select(
        F.col("id").alias("a_id"),
        F.col("id").alias("b_id"),
        F.col("__mids").alias("__a___mids"),
        F.col("__mids").alias("__b___mids"),
        F.lit(1.0).cast("double").alias("jaccard"),
    )
    return (
        rep_pairs.unionByName(selfp)
        .select(
            "jaccard",
            (F.col("a_id") == F.col("b_id")).alias("__self"),
            F.explode("__a___mids").alias("__x"),
            "__b___mids",
        )
        .select(
            "jaccard", "__self", "__x", F.explode("__b___mids").alias("__y")
        )
        .where(~F.col("__self") | (F.col("__x") < F.col("__y")))
        .select(
            F.least("__x", "__y").alias("a_id"),
            F.greatest("__x", "__y").alias("b_id"),
            "jaccard",
        )
    )


# --- SimHash ----------------------------------------------------------


def simhash(df: SparkDF, id_col: str, text_col: str) -> SparkDF:
    """64-bit SimHash per document: (id, simhash).

    Per-bit weighted vote over token xxhash64 values, expressed as
    64 conditional-sum aggregates (JVM codegen, one shuffle)."""
    from ..plans.hints import ensure_scan_parallelism

    df = ensure_scan_parallelism(df)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens_expr(text_col)).alias("tok"),
    ).where(F.col("tok") != "")
    h = F.xxhash64(F.col("tok"))
    votes = [
        F.sum(
            (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"v{b}")
        for b in range(64)
    ]
    voted = toks.groupBy("id").agg(*votes)
    # Assemble bits via sum of 2^b for positive votes; bit 63 via
    # signed arithmetic would overflow — keep 63 bits (bit 63 = 0).
    sim = None
    for b in range(63):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return voted.select("id", sim.cast("long").alias("simhash"))


def simhash_pairs(
    df: SparkDF, id_col: str, text_col: str, max_hamming: int = 3
) -> SparkDF:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Banding over four 16-bit chunks: any pair within hamming 3 must
    agree on >= 1 chunk (pigeonhole), so candidates come from four
    hash-joins, not a cross product. The pigeonhole bound is only
    complete for max_hamming <= 3 — a larger radius would silently
    lose pairs whose differing bits span all four chunks, so it is
    rejected (review r5)."""
    if max_hamming > 3:
        raise ValueError(
            "simhash_pairs is exact only for max_hamming <= 3 with "
            "4-chunk banding; a larger radius needs max_hamming + 1 "
            "chunks"
        )
    # persisted (r6): the chunk self-join reads the signatures on
    # both sides and AQE does not reuse the exchange across aliased
    # projections — without this the 64-aggregate simhash groupBy
    # ran once per side
    sigs = try_persist(simhash(df, id_col, text_col))
    chunks = F.array(
        *[
            F.shiftright(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF))
            for i in range(4)
        ]
    )
    banded = sigs.select(
        "id", F.col("simhash"), F.posexplode(chunks).alias("chunk_idx", "chunk")
    )
    a = banded.select(
        F.col("id").alias("a_id"), F.col("simhash").alias("sh_a"), "chunk_idx", "chunk"
    )
    b = banded.select(
        F.col("id").alias("b_id"), F.col("simhash").alias("sh_b"), "chunk_idx", "chunk"
    )
    return (
        a.join(b, ["chunk_idx", "chunk"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "sh_a", "sh_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


# --- Bloom-filter incremental membership ------------------------------


def _bit_at(pos):
    """1L << (pos mod 64) with a COLUMN shift amount (the python
    F.shiftleft signature only takes a literal; call_function routes
    to the SQL overload that accepts expressions)."""
    return F.call_function(
        "shiftleft",
        F.lit(1).cast("long"),
        F.pmod(pos, F.lit(64)).cast("int"),
    )


def _bloom_positions(key_cols: list[str], m_bits: int, k: int):
    """The k probe positions shared by build and probe — double
    hashing (pos_i = h1 + i*h2 mod m, Kirsch-Mitzenmacher) over two
    independent xxhash64 views of the key tuple. Both hashes are
    MASKED to 31 bits before the affine combination: full-range
    longs would overflow h1 + i*h2 — silent wraparound with ANSI
    off, a hard error with ANSI on (the driver's session may run
    either). h2 is forced odd so the stride is coprime to the
    power-of-two m and the k positions stay distinct."""
    keyed = [F.col(c) for c in key_cols]
    h1 = F.xxhash64(*keyed).bitwiseAND(F.lit(0x7FFFFFFF))
    h2 = (
        F.xxhash64(F.lit(1), *keyed)
        .bitwiseAND(F.lit(0x7FFFFFFF))
        .bitwiseOR(F.lit(1))
    )
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(k)]


def _bloom_check_params(m_bits: int, k: int):
    if m_bits < 64 or m_bits & (m_bits - 1):
        raise ValueError(
            f"bloom: m_bits must be a power of 2 >= 64, got {m_bits}"
        )
    if m_bits > 1 << 31:
        raise ValueError(f"bloom: m_bits must fit 31-bit hashing, got {m_bits}")
    if k < 1:
        raise ValueError(f"bloom: k must be >= 1, got {k}")


def bloom_build(
    df: SparkDF,
    key_cols: list[str],
    m_bits: int = 1 << 20,
    k: int = 5,
) -> SparkDF:
    """Build a Bloom filter over the key tuples of ``df`` as a
    ONE-ROW DataFrame holding the bit array packed into a
    ``map<int, bigint>`` of 64-bit words (only non-zero words are
    stored). This is the INCREMENTAL dedup primitive: fingerprint an
    existing 100 TB corpus once, then screen every new crawl batch
    against the broadcast filter with zero joins against the old
    corpus — false positives only (tunable via m/k), NEVER false
    negatives, so nothing already seen ever slips through, and
    nothing new is dropped without an (optional) exact confirm join
    on the tiny probe-positive set.

    Plan: k positions per row (see _bloom_positions), explode →
    word/bit projection → one bit_or agg on the word index (shuffle
    bounded by m/64 × tasks, map-side combined) → map_from_entries.
    The result row is ≤ m/8 bytes + map overhead (m = 2^20 →
    ~128 KiB of words) — broadcast state, the drift-bins/
    IVF-codebook contract."""
    _bloom_check_params(m_bits, k)
    positions = F.array(*_bloom_positions(key_cols, m_bits, k))
    words = (
        df.select(F.explode(positions).alias("__pos"))
        .select(
            F.shiftright(F.col("__pos"), 6).cast("int").alias("__word"),
            _bit_at(F.col("__pos")).alias("__bit"),
        )
        .groupBy("__word")
        .agg(F.bit_or("__bit").alias("__bits"))
    )
    return words.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__word"), F.col("__bits")))
        ).alias("__bloom")
    )


def bloom_might_contain(key_cols: list[str], m_bits: int, k: int):
    """Probe expression matching ``bloom_build``'s layout: true iff
    ALL k probe bits are set in the broadcast ``__bloom`` map column
    (must be in scope via a crossJoin with the one-row filter frame).
    A pure JVM expression — k map lookups + bit tests per row, fused
    into the scan of the NEW batch; the old corpus is never read."""
    _bloom_check_params(m_bits, k)
    probe = F.lit(True)
    for pos in _bloom_positions(key_cols, m_bits, k):
        word = F.coalesce(
            F.element_at(F.col("__bloom"), F.shiftright(pos, 6).cast("int")),
            F.lit(0).cast("long"),
        )
        probe = probe & ((word.bitwiseAND(_bit_at(pos))) != 0)
    return probe


def bloom_filter_new(
    new_df: SparkDF,
    seen_df: SparkDF,
    key_cols: list[str],
    m_bits: int = 1 << 20,
    k: int = 5,
) -> SparkDF:
    """Incremental dedup: rows of ``new_df`` whose key tuple is NOT
    (probably) in ``seen_df`` — build the Bloom filter over the seen
    corpus, broadcast it, keep the probe-negative rows. Guarantees:
    no key present in ``seen_df`` survives (no false negatives by
    construction); a small tunable fraction of genuinely-new rows is
    lost to false positives ((1 - e^{-kn/m})^k — size m >= ~10 bits
    per seen key for <1%). The new batch is scanned once, map-only."""
    bloom = bloom_build(seen_df, key_cols, m_bits=m_bits, k=k)
    probe = bloom_might_contain(key_cols, m_bits, k)
    return (
        new_df.crossJoin(F.broadcast(bloom))
        .where(~probe)
        .drop("__bloom")
    )
