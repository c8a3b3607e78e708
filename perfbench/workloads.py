"""The benchmark's workloads.

Each workload makes its inputs from the seed (``prepare``, before the
session starts), loads them (``load``), yields the operations of one
pass (``ops``; eda permutes them by the seed) and checks the latest
output of each operation (``check``, outside the timed window). An
operation is one
closed-loop request from a single client: the next one starts when
the previous one has returned.

Every call into the library runs inside a tracer span named after
the layer it enters; the untraced run's tracer records nothing.
"""

from __future__ import annotations

import math
import os

import numpy as np

import gen

# plan-size gates the library routes on (plans.stats.plan_size_bytes):
# the shingle kernel knee, the minhash signature kernel knee, and the
# big-path knee shared by jaccard, minhash and semdedup
GATES = {"256KB": 256 * 1024, "32MB": 32 * 1024 * 1024, "128MB": 128 * 1024 * 1024}

# 8 oracle-checked registry queries from the four EDA modules; none
# from dedup, similarity or text
EDA_QUERIES = [
    # relational
    "q1_pricing_summary",
    "q5_local_supplier",
    # stats_q
    "q_stats_agg",
    "q_quantiles",
    "q_summarize",
    # windows_q
    "q_window_cumsum",
    "q_sessionize",
    # exprs_q
    "q_pivot",
]

# inputs per workload and scale; "tiny" is for the smoke test
SIZES = {
    "eda": {"full": {"lineitem": 80_000}, "tiny": {"lineitem": 6_000}},
    "corpus": {
        "full": {"text_shards": 4, "shard_docs": 2_500, "raw_mb": 160,
                 "vec_shards": 3, "shard_vectors": 128},
        "tiny": {"text_shards": 2, "shard_docs": 500, "raw_mb": 0,
                 "vec_shards": 2, "shard_vectors": 128},
    },
}


def plan_record(sdf, tracer) -> dict:
    """The input's plan size and its side of each gate."""
    from dataframe_spark.plans.stats import plan_size_bytes

    with tracer.span("plans.stats"):
        size = plan_size_bytes(sdf)
    return {
        "plan_size_bytes": size,
        "plan_ratio_to_gate": {g: round(size / b, 4) for g, b in GATES.items()},
        "gate_side": {g: ("above" if size > b else "below") for g, b in GATES.items()},
    }


class Workload:
    name = ""

    def __init__(self, data_dir: str, seed: int, scale: str, tracer):
        self.data_dir = data_dir
        os.makedirs(data_dir, exist_ok=True)
        self.seed = seed
        self.size = SIZES[self.name][scale]
        self.tracer = tracer
        self.info: dict = {}
        self.last: dict = {}  # the latest output of each operation
        self.plan_bytes = 0  # summed input plan sizes of one pass

    def layer_counts(self) -> dict[str, int]:
        return {"dedup.pairs": 0, "similarity.dropped": 0}


class Eda(Workload):
    """Registry queries over generated star-schema tables. The seed
    makes the tables and permutes the query order within each pass."""

    name = "eda"

    def prepare(self) -> None:
        self.sf_dir = os.path.join(self.data_dir, "tables")
        rows = gen.tpch_tables(self.sf_dir, self.seed, self.size["lineitem"])
        self.info.update(
            rows=rows,
            bytes=sum(
                os.path.getsize(os.path.join(self.sf_dir, f))
                for f in os.listdir(self.sf_dir)
            ),
            queries=len(EDA_QUERIES),
        )

    def load(self, spark) -> None:
        from dataframe_spark.queries import exprs_q, relational, stats_q, windows_q
        from dataframe_spark.tables import load_table

        self.spark = spark
        self.registry, self.oracles = {}, {}
        for m in (relational, stats_q, windows_q, exprs_q):
            self.registry.update(m.QUERIES)
            self.oracles.update(m.ORACLES)
        self.info["plans"] = {}
        for t in ("lineitem", "orders", "customer", "events"):
            rec = plan_record(load_table(spark, self.sf_dir, t), self.tracer)
            self.info["plans"][t] = rec
            self.plan_bytes += rec["plan_size_bytes"]

    def ops(self, rng) -> list:
        order = rng.permutation(len(EDA_QUERIES))
        return [(EDA_QUERIES[i], self._query(EDA_QUERIES[i])) for i in order]

    def _query(self, name):
        def run(op_id):
            with self.tracer.span("queries.build", op_id):
                sdf = self.registry[name](self.spark, self.sf_dir)
            with self.tracer.span("queries.action", op_id):
                rows = [tuple(r) for r in sdf.collect()]
            self.last[name] = (sdf.columns, rows)

        return run

    def check(self) -> list[tuple[str, bool, str]]:
        import duckdb
        from parity import TABLES, normalize

        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        out = []
        for name in EDA_QUERIES:
            if name not in self.last:
                out.append((name, False, "no timed output"))
                continue
            cols, srows = self.last[name]
            rel = con.sql(self.oracles[name])
            drows = rel.fetchall()
            ok = sorted(cols) == sorted(rel.columns) and normalize(
                srows, cols
            ) == normalize(drows, list(rel.columns))
            out.append((name, ok, f"{len(srows)} rows vs oracle {len(drows)}"))
        return out


class Corpus(Workload):
    """A curation pass over one shard: near-duplicate text pairs
    (operators.dedup.jaccard_pairs(n=3, t=0.8)), then semantic dedup
    of embeddings (operators.similarity.semdedup, which runs
    operators.graph's connected components inside). Each pass takes
    the next text shard and the next vector shard, so the warm-up and
    every timed pass read different documents and vectors.

    A text shard is a filter on a doc_id range of one corpus file
    whose ``raw`` payload column puts the input plan above the 128 MB
    big-path gate; Spark sizes a filtered scan like the whole scan,
    so every shard's call takes the big path."""

    name = "corpus"
    TAU = 0.4

    def prepare(self) -> None:
        size = self.size
        self.corpus_path = os.path.join(self.data_dir, "corpus.parquet")
        docs = gen.corpus(
            self.corpus_path, self.seed, size["text_shards"], size["shard_docs"],
            size["raw_mb"] << 20,
        )
        self.group = docs["group"]
        self.texts = docs["text"]
        self.expected = [
            self.expected_pairs(s) for s in range(size["text_shards"])
        ]
        self.emb_path = os.path.join(self.data_dir, "embeddings.parquet")
        n_vec = size["vec_shards"] * size["shard_vectors"]
        emb = gen.embeddings(self.emb_path, self.seed, n_vec)
        self.vectors = emb["vectors"].astype(np.float64)
        # the registry's _semdedup_k rule (k = n/256, floored at 8) on
        # the rows one call sees
        self.k = max(8, size["shard_vectors"] // 256)
        self.info.update(
            text=dict(
                rows=docs["rows"],
                bytes=docs["bytes"],
                shards=size["text_shards"],
                shard_docs=size["shard_docs"],
                # what jaccard_pairs reads of a shard, beside the
                # plan size the gate sees
                shard_text_bytes=round(
                    sum(len(t.encode()) for t in self.texts) / size["text_shards"]
                ),
                dup_share=round(float((self.group >= 0).mean()), 4),
                non_ascii_share=round(float(docs["non_ascii"].mean()), 4),
                expected_pairs=self.expected,
            ),
            vectors=dict(
                rows=emb["rows"],
                bytes=emb["bytes"],
                clusters=emb["clusters"],
                shards=size["vec_shards"],
                shard_vectors=size["shard_vectors"],
                k=self.k,
            ),
        )
        self.passes = 0

    def expected_pairs(self, shard: int) -> int:
        """Exact 3-gram Jaccard >= 0.8 pairs inside the planted groups
        of one shard, computed in Python from the texts."""

        def shingles(text):
            t = text.strip().lower().split()
            return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

        members: dict[int, list[int]] = {}
        for doc in self._doc_range(shard):
            if self.group[doc] >= 0:
                members.setdefault(int(self.group[doc]), []).append(doc)
        n = 0
        for docs in members.values():
            sets = [shingles(self.texts[d]) for d in docs]
            for i in range(len(sets)):
                for j in range(i + 1, len(sets)):
                    inter = len(sets[i] & sets[j])
                    if inter / (len(sets[i]) + len(sets[j]) - inter) >= 0.8:
                        n += 1
        return n

    def _doc_range(self, shard: int) -> range:
        d = self.size["shard_docs"]
        return range(shard * d, (shard + 1) * d)

    def _vec_range(self, shard: int) -> range:
        v = self.size["shard_vectors"]
        return range(shard * v, (shard + 1) * v)

    @staticmethod
    def _shard(df, col, ids: range):
        from pyspark.sql import functions as F

        return df.where((F.col(col) >= ids.start) & (F.col(col) < ids.stop))

    def load(self, spark) -> None:
        self.docs_df = spark.read.parquet(self.corpus_path)
        self.emb_df = spark.read.parquet(self.emb_path)
        self.info["text"].update(
            plan_record(self._shard(self.docs_df, "doc_id", self._doc_range(0)), self.tracer)
        )
        self.info["vectors"].update(
            plan_record(self._shard(self.emb_df, "vec_id", self._vec_range(0)), self.tracer)
        )
        self.plan_bytes = (
            self.info["text"]["plan_size_bytes"] + self.info["vectors"]["plan_size_bytes"]
        )

    def ops(self, rng) -> list:
        ts = self.passes % self.size["text_shards"]
        vs = self.passes % self.size["vec_shards"]
        self.passes += 1
        return [
            (f"text_dedup{ts}", lambda op_id: self._text_dedup(ts, op_id)),
            (f"semantic_dedup{vs}", lambda op_id: self._semantic_dedup(vs, op_id)),
        ]

    def _text_dedup(self, shard: int, op_id: str) -> None:
        from dataframe_spark.operators import dedup

        df = self._shard(self.docs_df, "doc_id", self._doc_range(shard))
        with self.tracer.span("dedup.call", op_id):
            pairs = dedup.jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.8)
        with self.tracer.span("dedup.action", op_id):
            rows = [(r["a_id"], r["b_id"]) for r in pairs.select("a_id", "b_id").collect()]
        self.last[("pairs", shard)] = rows

    def _semantic_dedup(self, shard: int, op_id: str) -> None:
        from dataframe_spark.operators import similarity

        df = self._shard(self.emb_df, "vec_id", self._vec_range(shard))
        with self.tracer.span("similarity.call", op_id):
            res = similarity.semdedup(
                df, "vec_id", "embedding", k=self.k, tau=self.TAU, max_iter=3
            )
        with self.tracer.span("similarity.action", op_id):
            rows = [(r["id"], r["cluster"], r["keep"]) for r in res.collect()]
        self.last[("rows", shard)] = rows

    def layer_counts(self) -> dict[str, int]:
        """Output sizes over the last output of every shard."""
        return {
            "dedup.pairs": sum(len(v) for (k, _), v in self.last.items() if k == "pairs"),
            "similarity.dropped": sum(
                1 for (k, _), v in self.last.items() if k == "rows" for r in v if not r[2]
            ),
        }

    def check(self) -> list[tuple[str, bool, str]]:
        out = []
        for (kind, shard), rows in sorted(self.last.items()):
            if kind == "pairs":
                out += self._check_pairs(shard, rows)
            else:
                out += self._check_semdedup(shard, rows)
        return out

    def _check_pairs(self, shard, pairs) -> list[tuple[str, bool, str]]:
        g = self.group
        docs = self._doc_range(shard)
        inside = all(
            a in docs and b in docs and g[a] >= 0 and g[a] == g[b] for a, b in pairs
        )
        want = self.expected[shard]
        exact = len(set(pairs)) == len(pairs) == want
        return [
            (f"text{shard}.pairs_inside_planted_groups", inside, f"{len(pairs)} pairs"),
            (f"text{shard}.pair_count_matches_exact_jaccard", exact, f"{len(pairs)} vs {want}"),
        ]

    def _check_semdedup(self, shard, rows) -> list[tuple[str, bool, str]]:
        """q_semdedup_check's invariants, recomputed in numpy from the
        output and the raw vectors. Cosines are float64 here and in
        the library; 1e-9 absorbs summation-order ulps at tau."""
        want = self._vec_range(shard)
        ids = np.array([r[0] for r in rows])
        partition_ok = len(ids) == len(want) and set(ids.tolist()) == set(want)
        unit = self.vectors / np.linalg.norm(self.vectors, axis=1, keepdims=True)
        by_cluster: dict[int, list[tuple[int, bool]]] = {}
        for i, c, keep in rows:
            by_cluster.setdefault(c, []).append((i, keep))
        justified = separated = True
        dropped = 0
        for members in by_cluster.values():
            idx = np.array([m[0] for m in members])
            keep = np.array([m[1] for m in members])
            sims = unit[idx] @ unit[idx].T
            np.fill_diagonal(sims, -math.inf)
            drop = ~keep
            dropped += int(drop.sum())
            if drop.any() and not (sims[drop].max(axis=1) >= self.TAU - 1e-9).all():
                justified = False
            kk = sims[np.ix_(keep, keep)]
            if kk.size and (kk >= self.TAU + 1e-9).any():
                separated = False
        return [
            (f"vectors{shard}.partition_ok", partition_ok, f"{len(ids)} rows of {len(want)}"),
            (f"vectors{shard}.drops_justified", justified, f"{dropped} dropped"),
            (f"vectors{shard}.kept_separated", separated, ""),
            (f"vectors{shard}.nonempty", dropped > 0, ""),
        ]


WORKLOADS = {w.name: w for w in (Eda, Corpus)}
