"""Dedup operator tests: exact invariants, MinHash recall vs exact
Jaccard ground truth, SimHash sanity."""

import pytest
from pyspark.sql import functions as F

from dataframe_spark.operators import dedup


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),  # exact dup
        (3, "the quick brown fox jumps over the lazy cat today"),  # near dup
        (4, "completely different text about spark query engines here"),
        (5, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG TODAY"),  # case dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_first(dup_docs):
    normalized = dup_docs.withColumn("k", F.lower(F.trim(F.col("text"))))
    kept = dedup.exact_dedup(normalized, ["k"], "doc_id")
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [1, 3, 4]


def test_exact_dedup_idempotent(dup_docs):
    normalized = dup_docs.withColumn("k", F.lower(F.col("text")))
    once = dedup.exact_dedup(normalized, ["k"], "doc_id")
    twice = dedup.exact_dedup(once, ["k"], "doc_id")
    assert sorted(map(str, once.collect())) == sorted(map(str, twice.collect()))


def test_jaccard_pairs_finds_near_dups(dup_docs):
    pairs = dedup.jaccard_pairs(dup_docs, "doc_id", "text", n=3, threshold=0.5)
    found = {(r["a_id"], r["b_id"]): r["jaccard"] for r in pairs.collect()}
    assert found[(1, 2)] == 1.0
    assert found[(1, 5)] == 1.0  # case-normalized
    assert 0.5 <= found[(1, 3)] < 1.0
    assert (1, 4) not in found


def test_minhash_recall_vs_exact(docs):
    """MinHash+LSH (64 perms, 16 bands) must recover the exact
    Jaccard >= 0.8 pairs on the documents table (planted dups)."""
    exact = {
        (r["a_id"], r["b_id"])
        for r in dedup.jaccard_pairs(docs, "doc_id", "text", 3, 0.8).collect()
    }
    approx = {
        (r["a_id"], r["b_id"])
        for r in dedup.minhash_dedup_pairs(
            docs, "doc_id", "text", 3, 64, 16, 0.8
        ).collect()
    }
    assert exact, "expected planted near-dups in documents table"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9
    assert approx <= exact  # verify step kills false positives


def test_simhash_finds_exact_dups(dup_docs):
    pairs = dedup.simhash_pairs(dup_docs, "doc_id", "text", max_hamming=3)
    found = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    assert (1, 2) in found and (1, 5) in found


def test_connected_components_chain_and_clusters(spark):
    from dataframe_spark.operators.graph import connected_components

    # chain 1-2-3-4 (worst diameter), triangle 10-11-12, pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "a_id long, b_id long",
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert comp == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_dedup_corpus_keeps_canonical(spark, docs):
    from dataframe_spark.operators.dedup import jaccard_pairs
    from dataframe_spark.operators.graph import dedup_corpus

    pairs = jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    kept = dedup_corpus(docs, "doc_id", pairs)
    n_docs = docs.count()
    n_pairs_nodes = (
        pairs.selectExpr("a_id AS id")
        .union(pairs.selectExpr("b_id AS id"))
        .distinct()
        .count()
    )
    n_kept = kept.count()
    assert n_kept < n_docs
    assert n_kept >= n_docs - n_pairs_nodes
    # idempotent: survivors contain no pair above threshold
    again = jaccard_pairs(kept, "doc_id", "text", n=3, threshold=0.8)
    assert again.count() == 0


def test_contamination_scores(spark):
    from dataframe_spark.operators.dedup import contamination_scores

    corpus = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y z w v")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(9, "a b c q r s")], "doc_id long, text string")
    out = {
        r["id"]: r
        for r in contamination_scores(
            corpus, "doc_id", "text", bench, "text", n=3
        ).collect()
    }
    # doc 1 shares exactly the shingle "a b c" of its 3; doc 2 clean (absent)
    assert out[1]["n_contaminated"] == 1 and abs(out[1]["contamination"] - 0.3333) < 1e-4
    assert 2 not in out


def test_source_overlap_symmetric_bounds(docs):
    from pyspark.sql import functions as F

    from dataframe_spark.operators.dedup import source_overlap

    out = source_overlap(docs, "source", "text", n=3).collect()
    assert len(out) > 0
    n_sources = docs.select("source").distinct().count()
    assert len(out) <= n_sources * (n_sources - 1) // 2
    for r in out:
        assert r["source_a"] < r["source_b"] and r["n_shared"] > 0
    # spot-check one pair against a direct distinct-shingle intersect
    from dataframe_spark.operators.dedup import shingle_arrays

    a, b = out[0]["source_a"], out[0]["source_b"]
    sh = (
        shingle_arrays(docs.where(F.col("source").isin(a, b)), "source", "text", 3)
        .select(F.col("id").alias("s"), F.explode("sh_arr").alias("g"))
        .distinct()
    )
    direct = (
        sh.where(F.col("s") == a)
        .select("g")
        .intersect(sh.where(F.col("s") == b).select("g"))
        .count()
    )
    assert direct == out[0]["n_shared"]


def test_duplicated_spans_flags_shared_boilerplate(spark):
    from dataframe_spark.operators.dedup import duplicated_spans

    boiler = "this license text is identical across documents " * 2
    docs = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma delta"),
            (2, boiler + " unrelated words entirely here"),
            (3, "totally unique content with no shared spans at all xyz"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["id"]: r
        for r in duplicated_spans(docs, "doc_id", "text", window=5).collect()
    }
    # docs 1 and 2 share the boilerplate spans; doc 3 shares nothing
    assert out[1]["dup_span_frac"] > 0.3
    assert out[2]["dup_span_frac"] > 0.3
    assert out[3]["n_dup_windows"] == 0 and out[3]["dup_span_frac"] == 0.0
    # every window counted, none double-counted
    for r in out.values():
        assert 0 <= r["n_dup_windows"] <= r["n_windows"]


def test_duplicated_spans_in_doc_repeat_not_cross_doc(spark):
    """A span repeated only WITHIN one document is not a cross-doc
    duplicate (distinct-per-doc collapses it; df counts docs)."""
    from dataframe_spark.operators.dedup import duplicated_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e " * 10), (2, "v w x y z q r s t u")],
        "doc_id long, text string",
    )
    out = {
        r["id"]: r for r in duplicated_spans(docs, "doc_id", "text", 5).collect()
    }
    assert out[1]["n_dup_windows"] == 0
    assert out[2]["n_dup_windows"] == 0


# --- edit-distance pairs ----------------------------------------------


def test_edit_distance_pairs_matches_brute_force(spark):
    from itertools import combinations

    from dataframe_spark.operators.dedup import edit_distance_pairs

    names = [
        "red widget", "red widgit", "red widget", "blue widget",
        "small bolt", "small bolts", "smol bolt", "ring", "rings",
        "a", "ab", "b", "zz", "completely different thing",
    ]
    rows = [(i, s) for i, s in enumerate(names)]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {
        (r["a_id"], r["b_id"], r["dist"])
        for r in edit_distance_pairs(df, "id", "s", k=2, q=2, dedup_values=False).collect()
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    want = {
        (i, j, lev(names[i], names[j]))
        for i, j in combinations(range(len(names)), 2)
        if lev(names[i], names[j]) <= 2
    }
    assert got == want
    # the gramless strings ('a','b') still pair via the short block
    assert (9, 11, 1) in got
    # default mode collapses identical values to min-id representatives
    vals = {
        (r["a_id"], r["b_id"], r["dist"])
        for r in edit_distance_pairs(df, "id", "s", k=2, q=2).collect()
    }
    reps = {s: min(i for i, x in enumerate(names) if x == s) for s in set(names)}
    want_v = {
        (min(reps[x], reps[y]), max(reps[x], reps[y]), lev(x, y))
        for x in reps
        for y in reps
        if x < y and 1 <= lev(x, y) <= 2
    }
    assert vals == want_v


def test_edit_distance_pairs_empty_and_null(spark):
    from dataframe_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame(
        [(1, "abc"), (2, None), (3, "")], "id long, s string"
    )
    got = {
        (r["a_id"], r["b_id"], r["dist"])
        for r in edit_distance_pairs(df, "id", "s", k=2, q=2).collect()
    }
    assert got == set()  # null dropped; ''<->'abc' is distance 3


def test_minhash_identical_docs_collapse(spark):
    """A pathologically duplicated corpus (1000 byte-identical docs)
    must not pair quadratically inside the LSH band join: identical
    shingle sets collapse to one representative before banding, so
    the candidate join sees ONE member per band bucket while the
    expanded output still contains every C(1000,2) pair at 1.0."""
    n = 1000
    rows = [(i, "the same exact document text repeated verbatim here")
            for i in range(n)]
    rows += [(n + 1, "a completely different singleton document body"),
             (n + 2, "another unrelated text with no duplicate twin")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sigs_rows = dedup.minhash_signatures(df, "doc_id", "text", 3, 64)
    # collapse check: candidate generation over collapsed reps is tiny
    from dataframe_spark.operators.dedup import (
        _hash_arrays, lsh_candidate_pairs, shingle_arrays)
    arrs = _hash_arrays(shingle_arrays(df, "doc_id", "text", 3)).withColumn(
        "__g", F.xxhash64(F.array_sort("sh_arr")))
    reps = arrs.groupBy("__g").agg(F.min("id").alias("id"),
                                   F.first("sh_arr").alias("sh_arr"))
    assert reps.count() == 3  # 1000 identical -> 1 representative

    pairs = dedup.minhash_dedup_pairs(df, "doc_id", "text", 3, 64, 16, 0.8)
    agg = pairs.agg(F.count(F.lit(1)).alias("n"),
                    F.min("jaccard").alias("jmin")).collect()[0]
    assert agg["n"] == n * (n - 1) // 2
    assert agg["jmin"] == 1.0
    assert sigs_rows.count() == n + 2


def _jvm_hashed_shingles(df):
    """The JVM expression reference for the shingle kernel."""
    return dedup._hash_arrays(dedup.shingle_arrays(df, "doc_id", "text", 3))


def test_minhash_sig_kernel_matches_jvm(spark):
    """minhash_signatures (shingle and signature kernels) must
    reproduce the JVM expression reference EXACTLY (integer
    equality over every doc and permutation): the banding candidate
    set — and with it q_dedup_minhash's deterministic 100% recall at
    the driver SFs — depends on the values, so bit-equality is the
    equivalence proof, not a statistical check."""
    import random

    rng = random.Random(12)
    words = ["alpha", "bravo", "pad", "x9", "zulu", "kilo", "mike", "nn"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(3, 40))))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = dedup.minhash_signatures(df, "doc_id", "text", 3, 64)
    j = _jvm_hashed_shingles(df).select(
        "id", dedup._minhash_sig_expr(64).alias("sig")
    )
    av = {r["id"]: r["sig"] for r in a.collect()}
    jv = {r["id"]: r["sig"] for r in j.collect()}
    assert len(av) == 200
    assert av == jv


def test_minhash_sig_kernel_empty_array_matches_jvm(spark):
    """Defensive parity for an input minhash_signatures itself never
    produces (shingle_arrays filters n_sh > 0): an EMPTY sh_arr row
    yields num_perm null entries from the kernel and the expression
    reference alike (array_min over an empty transform is null per
    permutation)."""
    from dataframe_spark.operators.dedup import (
        _minhash_sig_expr, _minhash_sigs_frame)

    src = spark.createDataFrame(
        [(1, [123456789, -42]), (2, [])], "id long, sh_arr array<bigint>"
    )
    a = {r["id"]: r["sig"] for r in _minhash_sigs_frame(src, 8).collect()}
    ref = src.select("id", _minhash_sig_expr(8).alias("sig"))
    j = {r["id"]: r["sig"] for r in ref.collect()}
    assert a == j
    assert a[2] == [None] * 8


def test_shingle_kernel_matches_jvm(spark):
    """The arrow shingle-chain kernel must reproduce the JVM
    expression chain EXACTLY — same ids kept, same xxhash64 values,
    same in-array (first-occurrence) order, same n_sh: every
    shingle-based operator (jaccard prefixes, minhash signatures and
    banding, contamination intersections) consumes these rows, so
    row-level bit-equality is the equivalence proof for all of them.
    The corpus covers every boundary the chain has: Java-\\s-class
    whitespace runs (tab/newline/vtab/formfeed/cr), leading/trailing
    whitespace vs Spark's space-only trim, empty and whitespace-only
    and sub-n-token docs (dropped by both), repeated
    shingles (distinct order), case folding incl. non-ASCII Unicode
    (Python str.lower fallback vs UTF8String.toLowerCase), non-\\s
    Unicode whitespace kept inside tokens, >32-byte windows (the
    XXH64 stripe path), and a null text row."""
    docs = [
        "the quick brown fox jumps over the lazy dog",
        "  LEADING and trailing   spaces  ",
        "\ttab\nnewline\x0bvtab\ffeed\rcr mix  of\t\twhitespace runs",
        "", "   ", "\t\n", "one", "one two", "one two three",
        "dup dup dup dup dup dup",
        "a b c a b c a b c d",
        "Uppercase MIXED Case TOKENS here Everywhere",
        "Éclair naïve ÊTRE Σοφός ΒΑΣΙΛΕΙΑΣ weiß STRASSE tokens",
        "supercalifragilisticexpialidocious"
        " antidisestablishmentarianism"
        " floccinaucinihilipilification extra words",
        None,
        "x" * 40 + " " + "y" * 40 + " " + "z" * 40 + " tail words",
        "a b c d e f",  # non-breaking space is NOT Java \s
        "ΣΟΦΟΣ word ends sigma ΑΒΓΣ mid",
    ]
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    j = _jvm_hashed_shingles(df)
    a = dedup.hashed_shingle_arrays(df, "doc_id", "text", 3)
    jr = [(r.id, list(r.sh_arr), r.n_sh) for r in j.orderBy("id").collect()]
    ar = [(r.id, list(r.sh_arr), r.n_sh) for r in a.orderBy("id").collect()]
    assert len(jr) > 0 and jr == ar


def test_shingle_kernel_mixed_ascii_batch_matches_jvm(spark):
    """ONE batch with ASCII and non-ASCII rows interleaved: only the
    non-ASCII rows take str.lower() and every row keeps its place, so
    the kernel's rows equal the JVM chain's row for row. The last
    doc ends in a final sigma."""
    import pyarrow as pa

    docs = [
        "Plain ASCII Doc ONE with Caps",
        "ΟΔΥΣΣΕΥΣ Σοφός naïve ÊTRE doc",
        "another PLAIN row of Words",
        "MIXED ascii THEN Éclair weiß",
        "Plain ASCII Doc ONE with Caps",
        "ΤΕΛΟΣ ΤΗΣ ΙΣΤΟΡΙΑΣ ΟΔΟΣ",
    ]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(range(len(docs)), pa.int64()), pa.array(docs)],
        names=["id", "__text"],
    )
    (out,) = list(dedup._shingle_kernel(3)([batch]))
    got = list(zip(out.column(0).to_pylist(), out.column(1).to_pylist(),
                   out.column(2).to_pylist()))
    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    j = _jvm_hashed_shingles(df)
    want = [(r.id, list(r.sh_arr), r.n_sh) for r in j.orderBy("id").collect()]
    assert len(want) == len(docs) and got == want


def test_xxh64_kernel_exact(spark):
    """_xxh64_np vs Catalyst's xxhash64, bit-for-bit, over EVERY
    byte length 0..100 plus multi-stripe lengths — the tail rounds
    (remaining 8-byte words, the 4-byte word, single bytes) each get
    exercised at every possible residue."""
    import random

    import numpy as np

    from dataframe_spark.operators.dedup import _xxh64_np

    rng = random.Random(11)
    strs = [
        "".join(chr(rng.randrange(33, 127)) for _ in range(L))
        for L in list(range(101)) + [127, 128, 255, 300]
    ]
    sdf = spark.createDataFrame([(s,) for s in strs], "s string")
    expected = [r[0] for r in sdf.select(F.xxhash64("s")).collect()]
    buf = b"".join(s.encode() for s in strs)
    data = np.zeros(len(buf) + 8, np.uint8)
    data[: len(buf)] = np.frombuffer(buf, np.uint8)
    starts, lens, off = [], [], 0
    for s in strs:
        b = s.encode()
        starts.append(off)
        lens.append(len(b))
        off += len(b)
    got = _xxh64_np(
        data, np.array(starts, np.int64), np.array(lens, np.int64)
    )
    assert list(got) == expected


def test_jaccard_pairs_engine_invariant(spark):
    """End-to-end on the kernel-hashed shingles: docs 1 and 3 are
    identical, doc 2 shares 5 of their 6 3-grams (J = 5/7)."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "alpha beta gamma delta epsilon zeta eta theta"),
        (4, "totally different words in this document here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.jaccard_pairs(df, "doc_id", "text", 3, 0.5)
    got = sorted((r.a_id, r.b_id, r.jaccard) for r in pairs.collect())
    assert got == [(1, 2, 0.7143), (1, 3, 1.0), (2, 3, 0.7143)]


def test_product_paths_plan_the_arrow_kernels(docs, monkeypatch):
    """Every product path that hashes shingles or builds signatures
    plans the mapInArrow kernels at any input size: on the sf0.001
    documents (a parquet scan whose plan is far below any size gate;
    a createDataFrame input would not do, its plan size is unknown
    and reads as huge) no zip_with shingle chain and no array_min
    signature expression is planned. contamination_scores' bench
    side (an exploded string set with no ids) keeps its own
    expression chain, so its plan holds exactly that chain's
    zip_with calls and no more."""
    from dataframe_spark.plans.stats import plan_size_bytes

    assert plan_size_bytes(docs) < 256 * 1024
    bench = docs.where(F.col("doc_id") % 97 == 0)

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    sampled = []
    cls = type(docs)
    collect = cls.collect

    def spy(self):
        sampled.append(plan(self))
        return collect(self)

    monkeypatch.setattr(cls, "collect", spy)
    dedup._sampled_hot_probe(docs, "doc_id", "text", 3, fraction=1.0)
    monkeypatch.setattr(cls, "collect", collect)
    assert len(sampled) == 1

    plans = {
        "hashed_shingle_arrays": plan(
            dedup.hashed_shingle_arrays(docs, "doc_id", "text", 3)),
        "minhash_signatures": plan(
            dedup.minhash_signatures(docs, "doc_id", "text", 3, 64)),
        "minhash_dedup_pairs": plan(
            dedup.minhash_dedup_pairs(docs, "doc_id", "text", 3, 64, 16)),
        "_sampled_hot_probe": sampled[0],
    }
    for name, p in plans.items():
        assert "MapInArrow" in p, name
        assert "zip_with" not in p, name
    for name in ("minhash_signatures", "minhash_dedup_pairs"):
        assert "array_min" not in plans[name], name

    scores = plan(dedup.contamination_scores(
        docs, "doc_id", "text", bench, "text", 3))
    toks = F.filter(dedup.tokens_expr("text"), lambda x: x != F.lit(""))
    bench_chain = plan(
        bench.select(F.explode(dedup.shingle_array_expr(toks, 3))))
    assert "MapInArrow" in scores
    assert scores.count("zip_with") == bench_chain.count("zip_with") > 0


def test_lsh_max_bucket_caps_candidates(spark):
    """max_bucket bounds per-bucket pairing deterministically."""
    from dataframe_spark.operators.dedup import lsh_candidate_pairs

    # 10 ids sharing one band signature
    sigs = spark.createDataFrame(
        [(i, [7] * 64) for i in range(10)],
        "id long, sig array<bigint>",
    )
    full = lsh_candidate_pairs(sigs, 16, 4).count()
    capped = lsh_candidate_pairs(sigs, 16, 4, max_bucket=4).count()
    assert full == 45
    assert capped == 6  # C(4,2): first 4 ids by order survive


def test_lsh_band_refactor_matches_reference(spark):
    """r13: the band signature moved from xxhash64 over a
    comma-joined STRING of the slice to xxhash64 over the long slice
    directly, and the banded frame optionally persists before the
    self-join. Both are deterministic functions of the band slice,
    so the candidate set — pairs sharing at least one identical
    band slice — must be IDENTICAL to the old string-hash reference
    (collisions aside), and persist_bands must not change output."""
    import random

    from pyspark.sql import functions as F

    from dataframe_spark.operators.dedup import lsh_candidate_pairs

    rng = random.Random(7)

    def rand_sig():
        return [rng.randrange(-(1 << 62), 1 << 62) for _ in range(64)]

    # 10 fully-random singletons (no shared bands), then 10 pairs
    # each sharing exactly one band (a different band per pair)
    rows = [(i, rand_sig()) for i in range(10)]
    for p in range(10):
        s1, s2 = rand_sig(), rand_sig()
        b = p % 16
        s2[b * 4 : b * 4 + 4] = s1[b * 4 : b * 4 + 4]
        rows.append((10 + 2 * p, s1))
        rows.append((11 + 2 * p, s2))
    sigs = spark.createDataFrame(rows, "id long, sig array<bigint>")

    got = {
        (r["a_id"], r["b_id"])
        for r in lsh_candidate_pairs(sigs, 16, 4).collect()
    }
    got_persist = {
        (r["a_id"], r["b_id"])
        for r in lsh_candidate_pairs(
            sigs, 16, 4, persist_bands=True
        ).collect()
    }
    # the r5-r12 string-hash reference, inline
    band_arr_old = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda b: F.xxhash64(
            F.concat_ws(",", F.transform(
                F.slice(F.col("sig"), b * 4 + 1, 4),
                lambda x: x.cast("string"),
            ))
        ),
    )
    banded = sigs.select(
        "id", F.posexplode(band_arr_old).alias("band_idx", "band_hash")
    )
    a = banded.select(F.col("id").alias("a_id"), "band_idx", "band_hash")
    b = banded.select(F.col("id").alias("b_id"), "band_idx", "band_hash")
    want = {
        (r["a_id"], r["b_id"])
        for r in a.join(b, ["band_idx", "band_hash"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
        .collect()
    }
    assert got == want == got_persist
    # exactly the 10 planted single-band pairs, nothing else
    assert want == {(10 + 2 * p, 11 + 2 * p) for p in range(10)}


def test_contamination_paths_equivalent(docs, monkeypatch):
    """The gated broadcast (in-row array) and shuffle-join plans of
    contamination_scores must produce identical rows."""
    from dataframe_spark.operators import dedup
    from dataframe_spark.operators.dedup import contamination_scores

    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    monkeypatch.setattr(dedup, "BENCH_BROADCAST_MAX_BYTES", 1 << 63)
    a = sorted(map(str, contamination_scores(
        corpus, "doc_id", "text", bench, "text", n=3).collect()))
    monkeypatch.setattr(dedup, "BENCH_BROADCAST_MAX_BYTES", 0)
    b = sorted(map(str, contamination_scores(
        corpus, "doc_id", "text", bench, "text", n=3).collect()))
    assert a == b and len(a) > 0


def test_remove_duplicated_spans_canonical_keep(spark):
    """Hand-computed removal: the canonical (smallest id, pos)
    occurrence of a cross-doc span survives, every other occurrence
    is excised token-by-token; unique docs pass through rebuilt."""
    from dataframe_spark.operators.dedup import remove_duplicated_spans

    rows = [
        (1, "a b c d e"),    # canonical "a b c" at (1,0) — untouched
        (2, "x y a b c"),    # loses pos 2..4 -> "x y"
        (3, "a b c"),        # whole doc is a dup occurrence -> ""
        (4, "p q r s"),      # unique — rebuilt verbatim
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["id"]: r
        for r in remove_duplicated_spans(
            df, "doc_id", "text", window=3, min_docs=2
        ).collect()
    }
    assert out[1]["clean_text"] == "a b c d e" and out[1]["n_removed"] == 0
    assert out[2]["clean_text"] == "x y" and out[2]["n_removed"] == 3
    assert out[3]["clean_text"] == "" and out[3]["n_removed"] == 3
    assert out[4]["clean_text"] == "p q r s" and out[4]["n_removed"] == 0
    assert all(out[i]["n_tokens"] == len(rows[i - 1][1].split()) for i in out)


def test_remove_duplicated_spans_overlap_and_indoc(spark):
    """(a) Overlapping duplicated windows union their coverage;
    (b) a span repeated only WITHIN one doc is untouched
    (cross-document criterion, matching duplicated_spans)."""
    from dataframe_spark.operators.dedup import remove_duplicated_spans

    rows = [
        (1, "a b c d"),          # canonical for both "a b c","b c d"
        (2, "z a b c d"),        # windows at 1,2 both dup -> "z"
        (3, "m n m n"),          # in-doc repeat only: no 2-doc span
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["id"]: r
        for r in remove_duplicated_spans(
            df, "doc_id", "text", window=3, min_docs=2
        ).collect()
    }
    assert out[1]["clean_text"] == "a b c d"
    assert out[2]["clean_text"] == "z" and out[2]["n_removed"] == 4
    assert out[3]["clean_text"] == "m n m n" and out[3]["n_removed"] == 0


def test_bloom_membership_and_fp_bound(spark):
    from dataframe_spark.operators.dedup import (
        bloom_build,
        bloom_filter_new,
        bloom_might_contain,
    )

    seen = spark.createDataFrame(
        [(i, f"doc-{i}") for i in range(500)], "id long, key string"
    )
    new = spark.createDataFrame(
        [(i, f"doc-{i}") for i in range(400, 900)], "id long, key string"
    )
    out = bloom_filter_new(new, seen, ["key"], m_bits=1 << 14, k=5)
    got = {r["id"] for r in out.collect()}
    # hard guarantee: every key present in seen is screened out
    assert got.isdisjoint(set(range(400, 500)))
    # genuinely-new keys survive modulo a small fp loss
    truly_new = set(range(500, 900))
    lost = truly_new - got
    assert got <= truly_new
    assert len(lost) <= 0.02 * len(truly_new)
    # direct probe: all seen keys positive
    bloom = bloom_build(seen, ["key"], m_bits=1 << 14, k=5)
    probed = (
        seen.crossJoin(F.broadcast(bloom))
        .select(bloom_might_contain(["key"], 1 << 14, 5).alias("hit"))
        .collect()
    )
    assert all(r["hit"] for r in probed)


def test_bloom_deterministic_and_guards(spark):
    from dataframe_spark.operators.dedup import bloom_build, bloom_filter_new

    seen = spark.createDataFrame(
        [(i, f"k{i}") for i in range(100)], "id long, key string"
    )
    new = spark.createDataFrame(
        [(i, f"k{i}") for i in range(50, 200)], "id long, key string"
    )
    a = sorted(r["id"] for r in bloom_filter_new(new, seen, ["key"]).collect())
    b = sorted(r["id"] for r in bloom_filter_new(new, seen, ["key"]).collect())
    assert a == b
    with pytest.raises(ValueError):
        bloom_build(seen, ["key"], m_bits=1000)  # not a power of 2
    with pytest.raises(ValueError):
        bloom_build(seen, ["key"], m_bits=1 << 14, k=0)


def test_cms_estimates_and_hot_keys(spark):
    from dataframe_spark.operators.sketch import (
        cms_build,
        cms_estimate,
        hot_keys,
    )

    # skewed stream: 'hot' x 300, 'warm' x 60, 200 singletons
    rows = (
        [("hot",)] * 300 + [("warm",)] * 60 + [(f"cold{i}",) for i in range(200)]
    )
    df = spark.createDataFrame(rows, "k string")
    sketch = cms_build(df, ["k"], width=1024, depth=4)
    est = (
        df.select("k").distinct()
        .crossJoin(F.broadcast(sketch))
        .withColumn("est", cms_estimate(["k"], width=1024, depth=4))
    )
    got = {r["k"]: r["est"] for r in est.collect()}
    # one-sided guarantee: never under the true count
    assert got["hot"] >= 300 and got["warm"] >= 60
    assert all(v >= 1 for v in got.values())
    # 560 increments over 1024x4 slots: overestimates stay tiny
    assert got["hot"] <= 300 + 5 and got["warm"] <= 60 + 5
    # hot_keys finds exactly the skewed keys at threshold 50
    hot = {r["k"] for r in hot_keys(df, ["k"], threshold=50, width=1024).collect()}
    assert {"hot", "warm"} <= hot and len(hot) <= 4


def test_cms_guards(spark):
    from dataframe_spark.operators.sketch import cms_build

    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ValueError):
        cms_build(df, ["k"], width=0)
    with pytest.raises(ValueError):
        cms_build(df, ["k"], width=1 << 23, depth=4)  # slot cap


def test_dedup_paragraphs_keep_first_and_structure(spark):
    from dataframe_spark.operators.dedup import dedup_paragraphs

    boiler = "subscribe to our newsletter today"
    rows = [
        (1, f"unique opening line\n{boiler}\nmore unique text"),
        (2, f"{boiler}\nanother page entirely"),
        (3, f"x\n{boiler}"),          # 'x' is short: always survives
        (4, None),                     # null text -> empty document
        (5, boiler),                   # single all-removed paragraph
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["id"]: r
        for r in dedup_paragraphs(
            df, "doc_id", "text", sep="\n", min_chars=3
        ).collect()
    }
    assert len(out) == 5  # null-text doc kept as a row
    # doc 1 owns the canonical occurrence (smallest (id, idx))
    assert out[1]["n_removed"] == 0
    assert out[1]["clean_text"] == rows[0][1]
    # later occurrences removed, structure rejoined with the sep
    assert out[2]["n_removed"] == 1
    assert out[2]["clean_text"] == "another page entirely"
    # short paragraph survives even though it repeats nowhere
    assert out[3]["clean_text"] == "x"
    assert out[4]["n_paras"] == 1 and out[4]["clean_text"] == ""
    assert out[5]["clean_text"] == "" and out[5]["n_removed"] == 1
    # regex-special separator is treated literally
    df2 = spark.createDataFrame(
        [(1, "aa|bb"), (2, "aa|cc")], "doc_id long, text string"
    )
    got = {
        r["id"]: r["clean_text"]
        for r in dedup_paragraphs(
            df2, "doc_id", "text", sep="|", min_chars=2
        ).collect()
    }
    assert got[1] == "aa|bb" and got[2] == "cc"


def test_pagerank_closed_form_and_guards(spark):
    from dataframe_spark.operators.graph import pagerank

    # directed 3-node graph with known 10-iteration ranks (computed
    # by plain-python power iteration: 1->3, 2->3, 3->1, 1->2)
    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (3, 1), (1, 2)], "src long, dst long"
    )
    got = {r["node"]: r["rank"]
           for r in pagerank(edges, iters=10).collect()}
    expect = {1: 0.388913, 2: 0.214416, 3: 0.396670}
    for n, v in expect.items():
        assert abs(got[n] - v) < 1e-6
    assert abs(sum(got.values()) - 1.0) < 1e-9

    # symmetric graph: a hub (touching everything) outranks leaves
    sym = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2)], "src long, dst long"
    )
    pr = {r["node"]: r["rank"]
          for r in pagerank(sym, symmetrize=True, iters=10).collect()}
    assert pr[0] == max(pr.values()) and pr[3] == min(pr.values())
    assert abs(sum(pr.values()) - 1.0) < 1e-9

    import pytest as _pytest

    # dangling node (2 has no out-edge) must raise, not leak mass
    dang = spark.createDataFrame([(1, 2)], "src long, dst long")
    with _pytest.raises(ValueError):
        pagerank(dang, iters=2)
    with _pytest.raises(ValueError):
        pagerank(edges, damping=1.0)
    with _pytest.raises(ValueError):
        pagerank(edges, iters=0)


def test_pagerank_assume_unique_matches_default(spark):
    """assume_unique skips the setup distinct (r12). On inputs that
    satisfy the attestation — duplicate-free rows for the directed
    case, ONE orientation per undirected pair for the symmetrized
    case (what cosine_pairs/bucketed_cosine_pairs emit) — ranks must
    be IDENTICAL to the default path."""
    from dataframe_spark.operators.graph import pagerank

    directed = spark.createDataFrame(
        [(1, 3), (2, 3), (3, 1), (1, 2), (4, 1), (1, 4)],
        "src long, dst long",
    )
    want = {r["node"]: r["rank"]
            for r in pagerank(directed, iters=7).collect()}
    got = {r["node"]: r["rank"]
           for r in pagerank(directed, iters=7, assume_unique=True).collect()}
    assert got == want

    undirected = spark.createDataFrame(
        [(1, 3), (2, 3), (1, 2), (1, 4)], "src long, dst long"
    )
    want = {r["node"]: r["rank"]
            for r in pagerank(undirected, iters=5, symmetrize=True).collect()}
    got = {r["node"]: r["rank"]
           for r in pagerank(
               undirected, iters=5, symmetrize=True, assume_unique=True
           ).collect()}
    assert got == want

    # the attestation is real: both orientations of one undirected
    # pair DO break the flag under symmetrize (they collide after
    # the swap-union) — the default path dedups them instead
    both = spark.createDataFrame(
        [(1, 3), (3, 1), (2, 3), (1, 2), (1, 4)], "src long, dst long"
    )
    want = {r["node"]: r["rank"]
            for r in pagerank(both, iters=5, symmetrize=True).collect()}
    got = {r["node"]: r["rank"]
           for r in pagerank(
               both, iters=5, symmetrize=True, assume_unique=True
           ).collect()}
    assert got != want


def _brute_jaccard(rows, n, t):
    """{(a, b, jaccard)} of every pair (a < b) whose word-n-gram
    Jaccard, rounded to 4 decimals, is >= t: the all-pairs reference
    the operator must equal."""
    import itertools

    def shingles(text):
        toks = (text or "").lower().split()
        return {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }

    sh = {i: shingles(txt) for i, txt in rows}
    want = set()
    for (i, a), (j, b) in itertools.combinations(sorted(sh.items()), 2):
        if not a or not b:
            continue
        jac = round(len(a & b) / len(a | b), 4)
        if jac >= t:
            want.add((i, j, round(jac, 6)))
    return want


def _hash_chain(docs, n, t, demote_hot, big):
    """jaccard_pairs' internal chain with the demotion switch and the
    big-path shape (truncated-bound filter + counted broadcast
    verify) chosen by the caller instead of by the input size."""
    import dataframe_spark.operators.dedup as dd

    arrs = dd.hashed_shingle_arrays(docs, "doc_id", "text", n)
    prefix = dd._hash_order_prefix(
        arrs, docs, "doc_id", "text", n, t, demote_hot
    )
    cands = dd._prefix_candidates(prefix, t)
    if big:
        cands = dd._truncated_bound_filter(cands, arrs, t)
        return dd._verify_jaccard(cands, arrs, t, broadcast_pairs=True)
    return dd._verify_jaccard(cands, arrs, t, broadcast_pairs=False)


def _pair_set(df):
    return {
        (r["a_id"], r["b_id"], round(r["jaccard"], 6)) for r in df.collect()
    }


def test_jaccard_broadcast_gate_strategies_agree(spark, sf_dir, monkeypatch):
    """Every candidate strategy must produce the brute-force pair set:
    both orders on either side of the big-path knee (the df order's
    broadcast and shuffle joins), and the hash-order chain with
    demotion off and forced on, each with the small and the big-path
    verify. Order, demotion and join shapes move only performance,
    never the result."""
    import dataframe_spark.operators.dedup as dd
    from dataframe_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    want = _brute_jaccard(
        [(r["doc_id"], r["text"]) for r in docs.collect()], 3, 0.8
    )
    assert want
    for demote_hot in (False, True):
        for big in (False, True):
            got = _pair_set(_hash_chain(docs, 3, 0.8, demote_hot, big))
            assert got == want, (demote_hot, big)
    for knee in (dd._BIG_PATH_KNEE, -1):
        monkeypatch.setattr(dd, "_BIG_PATH_KNEE", knee)
        for order in ("hash", "df"):
            got = _pair_set(dd.jaccard_pairs(
                docs, "doc_id", "text", n=3, threshold=0.8, order=order
            ))
            assert got == want, (knee, order)


def test_jaccard_hot_demotion_bitmap_is_order_only(spark, monkeypatch):
    """A corpus with a genuinely hot shingle (a shared template
    sentence in every doc): force the sampled hot bitmap to be
    non-empty (fraction 1.0, hot_min 2) and pin that demotion
    changes candidates, never the verified pair set."""
    import dataframe_spark.operators.dedup as dd

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"unique text {i} a b c d e {base}") for i in range(30)]
    rows += [(100, "alpha beta gamma delta epsilon zeta eta theta"),
             (101, "alpha beta gamma delta epsilon zeta eta iota")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    probe = dd._sampled_hot_probe(
        docs, "doc_id", "text", 3, fraction=1.0, hot_min=2
    )
    assert probe is not None  # the template grams really are hot
    orig = dd._sampled_hot_probe
    monkeypatch.setattr(
        dd, "_sampled_hot_probe",
        lambda *a, **kw: orig(*a, fraction=1.0, hot_min=2),
    )
    p_hot = _pair_set(_hash_chain(docs, 3, 0.5, True, False))
    want = _brute_jaccard(rows, 3, 0.5)
    assert p_hot == want
    assert len(want) > 0


def test_long_array_literal_matches_list_literal(spark):
    """The bulk single-node array literal (r13: one py4j byte[] copy
    + JVM LongBuffer fill, replacing the 124 s CreateArray-per-
    element list literal in the demotion bitmaps) must be
    bit-identical to F.lit(list).cast('array<bigint>') — including
    words with the sign bit set (two's complement) and zero."""
    import dataframe_spark.operators.dedup as dd
    from pyspark.sql import functions as F

    words = [0, 1, (1 << 63), (1 << 64) - 1, 0xDEADBEEFCAFEBABE,
             (1 << 63) - 1, 42]
    signed = [w - (1 << 64) if w >= 1 << 63 else w for w in words]
    fast = dd._long_array_literal(words)
    slow = F.lit(signed).cast("array<bigint>")
    row = spark.range(1).select(
        fast.alias("fast"), slow.alias("slow")
    ).first()
    assert list(row["fast"]) == list(row["slow"]) == signed
    # element_at over the fast literal behaves like the probe uses it
    got = spark.range(1, len(words) + 1).select(
        F.element_at(dd._long_array_literal(words),
                     F.col("id").cast("int")).alias("w")
    ).collect()
    assert [r["w"] for r in got] == signed


def test_jaccard_prefix_asymmetry_matches_brute_force(spark):
    """The r13 index/probe prefix asymmetry directs pairs by
    (n_sh, id) and truncates the smaller side to the PPJoin index
    prefix — lossless by the overlap lemma. Pin the full pair set
    against a brute-force all-pairs Jaccard on a corpus designed to
    stress the asymmetric direction: near-dup pairs of UNEQUAL
    length (subset/superset docs near the threshold), equal-length
    ties (the id tie-break branch), and ids whose numeric order
    disagrees with length order."""
    import dataframe_spark.operators.dedup as dd

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (9, base),                                 # big id, short doc
        (1, base + " lam mu"),                     # small id, longer
        (2, base + " lam mu nu"),                  # longer still
        (3, base + " lam mu nu"),                  # equal-length tie w/ 2
        (4, "totally different words entirely here now ok fine yes"),
        (5, base + " xi omicron pi rho sigma tau upsilon phi chi psi"),
        (6, "alpha beta gamma"),                   # sub-n after shingling
        (7, ""),                                   # empty
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    t = 0.6
    want = _brute_jaccard(rows, 2, t)
    for order in ("hash", "df"):
        got = _pair_set(dd.jaccard_pairs(
            docs, "doc_id", "text", n=2, threshold=t, order=order
        ))
        assert got == want, order
    assert len(want) >= 3  # unequal-length pairs really are present
    # doc 9 is SHORTER than doc 1/2 yet has the larger id, so the
    # asymmetric direction (by n_sh) disagrees with id order — make
    # sure such a pair is actually exercised and re-normalized
    assert any(b == 9 for a, b, _ in want)
    assert all(a < b for a, b, _ in want)


def test_truncated_bound_and_counted_verify_paths(spark):
    """The big-corpus machinery (truncated-bound pre-verify +
    counted broadcast verify) must be EXACT on any corpus — pin
    both verify shapes against the plain small-path result (r11:
    these paths only auto-engage past the 128 MB knee, so tests
    drive them explicitly)."""
    import dataframe_spark.operators.dedup as dd

    rows = [(i, f"common words here {i % 7} plus tail {i}") for i in range(40)]
    rows += [(100 + i, "a near duplicate body of text shared by the group "
              + ("x" if i else "y")) for i in range(3)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    want = {
        (r["a_id"], r["b_id"], round(r["jaccard"], 6))
        for r in dd.jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    arrs = dd.hashed_shingle_arrays(docs, "doc_id", "text", 3)
    prefix = dd._hash_order_prefix(arrs, docs, "doc_id", "text", 3, 0.5, False)
    cands = dd._prefix_candidates(prefix, 0.5)
    pruned = dd._truncated_bound_filter(cands, arrs, 0.5)
    for bc in (True, False):
        got = {
            (r["a_id"], r["b_id"], round(r["jaccard"], 6))
            for r in dd._verify_jaccard(
                pruned, arrs, 0.5, broadcast_pairs=bc
            ).collect()
        }
        assert got == want, bc
    assert len(want) > 0


def _shingle_hashes(strings):
    """xxhash64 (seed 42) of each string, as the shingle arrays hold it."""
    import numpy as np

    from dataframe_spark.operators.dedup import _xxh64_np

    enc = [s.encode() for s in strings]
    lens = np.array([len(b) for b in enc], np.int64)
    data = np.zeros(int(lens.sum()) + 8, np.uint8)
    data[: int(lens.sum())] = np.frombuffer(b"".join(enc), np.uint8)
    return _xxh64_np(data, np.cumsum(lens) - lens, lens)


@pytest.fixture(scope="module")
def tie_docs(spark):
    """Two docs of 63 distinct word 3-grams sharing 56: J = 56/70 =
    0.8 exactly and na + nb = 126, where t/(1+t)·126 and
    2t/(1+t)·63 evaluate a hair above 56 and used to ceil to 57. Each
    doc's 7 private 3-grams are chosen to hash below every shared
    one, so in the hash order (and in the df order, where df = 1 sorts
    first) the first shared 3-gram sits at position 8 of both docs —
    the last position the exact bounds admit."""
    import numpy as np

    shared = [f"s{i}" for i in range(58)]
    floor = _shingle_hashes(
        [" ".join(shared[i : i + 3]) for i in range(56)]
    ).min()

    def doc(tag):
        toks = list(shared)
        for step in range(7):
            cands = [f"{tag}{step}x{j}" for j in range(4000)]
            hs = _shingle_hashes([f"{toks[-2]} {toks[-1]} {c}" for c in cands])
            assert hs.min() < floor
            toks.append(cands[int(np.argmax(hs < floor))])
        return " ".join(toks)

    return spark.createDataFrame(
        [(1, doc("a")), (2, doc("b"))], "doc_id long, text string"
    )


def test_jaccard_exact_threshold_tie_small_and_big_paths(tie_docs):
    """A pair at exactly J = t is a pair on every path: the hash and
    df orders, hot-shingle demotion with the small verify, and the
    big path's truncated-bound filter called directly."""
    import dataframe_spark.operators.dedup as dd

    want = [(1, 2, 0.8)]

    def pairs(df):
        return sorted((r["a_id"], r["b_id"], r["jaccard"]) for r in df.collect())

    for order in ("hash", "df"):
        got = dd.jaccard_pairs(
            tie_docs, "doc_id", "text", n=3, threshold=0.8, order=order
        )
        assert pairs(got) == want, order
    assert pairs(_hash_chain(tie_docs, 3, 0.8, True, False)) == want
    arrs = dd.hashed_shingle_arrays(tie_docs, "doc_id", "text", 3)
    prefix = dd._hash_order_prefix(arrs, tie_docs, "doc_id", "text", 3, 0.8, True)
    cands = dd._prefix_candidates(prefix, 0.8)
    pruned = dd._truncated_bound_filter(cands, arrs, 0.8)
    assert sorted(tuple(r) for r in pruned.collect()) == [(1, 2)]
    assert pairs(dd._verify_jaccard(pruned, arrs, 0.8, broadcast_pairs=True)) == want


def test_jaccard_length_filter_tie(spark):
    """t = 0.7: a doc whose 7 shingles are a subset of another's 10
    (J = 7/10, min(na, nb) = t·max(na, nb) exactly) passes the length
    filter on the small and the big-path shapes."""
    import dataframe_spark.operators.dedup as dd

    words = [f"w{i}" for i in range(12)]
    docs = spark.createDataFrame(
        [(1, " ".join(words[:9])), (2, " ".join(words))],
        "doc_id long, text string",
    )
    for order in ("hash", "df"):
        got = dd.jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.7, order=order
        )
        assert [tuple(r) for r in got.collect()] == [(1, 2, 0.7)], order
    got = _hash_chain(docs, 3, 0.7, True, False)
    assert [tuple(r) for r in got.collect()] == [(1, 2, 0.7)]
    arrs = dd.hashed_shingle_arrays(docs, "doc_id", "text", 3)
    prefix = dd._hash_order_prefix(arrs, docs, "doc_id", "text", 3, 0.7, True)
    pruned = dd._truncated_bound_filter(dd._prefix_candidates(prefix, 0.7), arrs, 0.7)
    assert [tuple(r) for r in pruned.collect()] == [(1, 2)]


@pytest.fixture(scope="module")
def long_docs(spark):
    """Long documents planted in pairs whose exact 3-gram Jaccard sits
    on both sides of t − 5e-5 = 0.79995 at t = 0.8, and the pairs the
    DuckDB oracle SQL keeps for them. Every word is distinct, so a doc
    of w words has w − 2 distinct 3-grams; groups share no word."""
    import duckdb
    import pandas as pd

    from dataframe_spark.queries.dedup_q import ORACLES

    def words(g, lo, hi):
        return [f"g{g}w{i}" for i in range(lo, hi)]

    rows = []
    # subset pairs: a's c 3-grams all lie in b's u, so J = c / u
    for g, (c, u) in enumerate([
        (16000, 20001),  # 0.79996, reported as 0.8
        (12800, 16001),  # 0.7999500031, reported as 0.8
        (12796, 15996),  # 0.7999499875, rounds to 0.7999
        (16000, 19999),  # 0.80004, reported as 0.8
    ]):
        a = words(g, 0, c + 2)
        rows.append((2 * g + 1, " ".join(a)))
        rows.append((2 * g + 2, " ".join(a + words(g, c + 2, u + 2))))
    # equal lengths: n 3-grams each, c shared, J = c / (2n − c) =
    # 0.7999520, reported as 0.8
    n, c = 15008, 13340
    shared = words(8, 0, c + 2)
    rows.append((19, " ".join(shared + words(8, c + 2, n + 2))))
    rows.append((20, " ".join(shared + words(9, c + 2, n + 2))))
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = {
        (a, b, round(j, 6))
        for a, b, j in con.execute(ORACLES["q_dedup_ngram_jaccard"]).fetchall()
    }
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return docs, want


def test_jaccard_rounded_threshold_long_docs(long_docs, monkeypatch):
    """The verify keeps round(J, 4) >= t, as the oracle does, so a pair
    with exact J in [t − 5e-5, t) is a pair: every PPJoin bound must
    hold down to t − 5e-5. Checked on the small path, on the big path
    with every shared 3-gram demoted (the long side's prefix is then
    all private grams but one, which only the loosened probe prefix
    and positional bound admit), and through minhash verify on both
    sides of the knee."""
    import dataframe_spark.operators.dedup as dd

    docs, want = long_docs
    assert want == {(1, 2, 0.8), (3, 4, 0.8), (7, 8, 0.8), (19, 20, 0.8)}

    def run():
        return {
            "hash": _pair_set(dd.jaccard_pairs(docs, "doc_id", "text", 3, 0.8)),
            "df": _pair_set(dd.jaccard_pairs(
                docs, "doc_id", "text", 3, 0.8, order="df"
            )),
            "minhash": _pair_set(dd.minhash_dedup_pairs(
                docs, "doc_id", "text", 3, 64, 16, 0.8
            )),
        }

    for path, got in run().items():
        assert got == want, ("small", path)
    monkeypatch.setattr(dd, "_BIG_PATH_KNEE", -1)
    orig = dd._sampled_hot_probe
    monkeypatch.setattr(
        dd, "_sampled_hot_probe",
        lambda *a, **kw: orig(*a, fraction=1.0, hot_min=2),
    )
    for path, got in run().items():
        assert got == want, ("big", path)
