"""Core DataFrame verbs — the analogue of the reference's ``D.*`` API.

Reference: /root/reference/src/DataFrame/Operations/{Core,Subset,
Transformations,Aggregation,Join,Merge,Permutation,Statistics}.hs.

Design: a THIN wrapper over :class:`pyspark.sql.DataFrame`. Every
verb returns a new wrapper around a pure lazy Spark plan — nothing
materializes until an action, so Catalyst sees whole pipelines and
applies pushdown/pruning/join-reordering across verb boundaries.
The underlying plan is always available as ``.df``.

Scale notes: no OPERATOR verb calls ``.collect()`` on table data;
the documented exceptions are display paths (terminal rendering is
driver-side by nature), ``drop_last``'s gated boundary counts, and
bounded MODEL state in iterative fits (k×dim centroids, vocab-capped
LMs, gradient rows — never row data). Scalar-statistic verbs
(``impute``, ``summarize``) are expressed as single-pass
aggregations cross-joined back as broadcast one-row plans, so they
remain fully distributed.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column
from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import functions as F

from .errors import ColumnNotFoundError, MissingOrderError

__all__ = ["DataFrame", "GroupedDataFrame", "Asc", "Desc", "NUMERIC_TYPES"]

Asc = "asc"
Desc = "desc"

# The dtype strings treated as numeric by summarize/plots/matrix
# exports — ONE list so adding a type (e.g. decimal) lands everywhere
# at once. decimal renders as 'decimal(p,s)'; match it by prefix.
NUMERIC_TYPES = ("int", "bigint", "double", "float", "smallint", "tinyint")


def is_numeric_dtype(t: str) -> bool:
    return t in NUMERIC_TYPES or t.startswith("decimal")

# drop_last's lazy plan tops-n the order keys toward the driver and
# broadcasts them; above this n that side is itself driver-sized, so
# the verb falls back to the count-based plan (review r5)
DROP_LAST_LAZY_MAX = 1_000_000

# drop_last's boundary trim spreads each boundary order-key value
# over this many deterministic hash-salt buckets so a heavily tied
# value never funnels its whole population into one window task
# (ADVICE r5)
DROP_LAST_SALT_BUCKETS = 64


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


def _q(name: str) -> str:
    """Single-quoted selectExpr string literal with quote/backslash
    escaping — every stack() call site interpolating column NAMES
    into SQL text must use this (expression-injection hazard and a
    ParseException for names containing a quote)."""
    return "'" + name.replace("\\", "\\\\").replace("'", "\\'") + "'"


from .expr import bq as _bq  # shared backtick-quoting helper


def _expr_str(expr: Column) -> str:
    """Human-readable expression text for provenance annotations
    (reference Internal/Expression.hs Show instances). Classic mode
    exposes the Catalyst expression's toString; Connect falls back
    to the Column repr."""
    try:
        return expr._jc.toString()
    except AttributeError:  # Spark Connect
        return str(expr)


def _with_provenance(expr: Column, name: str) -> Column:
    """Alias ``expr`` to ``name`` carrying a ``derived_from``
    metadata entry — the reference's derived-column annotation
    (CHANGELOG 0.4.0.5), surfaced in describe_columns."""
    return expr.alias(name, metadata={"derived_from": _expr_str(expr)})


def _aes_log_key(key_cols, w: Column) -> Column:
    """Efraimidis-Spirakis rank key in the LOG domain: ln(u) / w is
    a strictly monotone transform of the textbook u^(1/w) (w > 0),
    but keeps full relative precision where pow compresses large-w
    keys into the few ulps below 1.0 — adjacent keys then differ in
    well-separated doubles on every engine instead of flipping on a
    libm pow rounding ulp. u is the portable md5 row-uniform shifted
    into (0, 1] so ln never sees 0."""
    keyed = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in key_cols
    ]
    u = (
        (
            F.conv(F.substring(F.md5(F.concat_ws("\x1f", *keyed)), 1, 8), 16, 10)
            .cast("bigint")
            + 1
        ).cast("double")
        / F.lit(float(1 << 32))
    )
    return F.log(u) / w


class DataFrame:
    """Reference-style verbs compiled to Spark plans."""

    def __init__(self, df: SparkDF):
        self.df = df

    # -- plumbing ------------------------------------------------------

    def __repr__(self) -> str:  # pragma: no cover
        return f"DataFrame[{', '.join(self.df.columns)}]"

    def to_spark(self) -> SparkDF:
        return self.df

    def to_pandas(self):
        return self.df.toPandas()

    def collect(self):
        return self.df.collect()

    def to_row_list(self, columns: Sequence[str] | None = None):
        """Materialize all rows as ordered ``(name, value)`` dicts —
        the reference's ``toRowList`` idiom (Internal/Row.hs:122;
        CHANGELOG 0.4.0.6). ``columns`` subsets/reorders like the
        reference's named variant. Driver-side by definition — same
        memory caveat the reference documents; prefer the
        distributed verbs for anything size-of-data."""
        cols = list(columns) if columns is not None else self.df.columns
        missing = [c for c in cols if c not in self.df.columns]
        if missing:
            raise ColumnNotFoundError(missing[0], self.df.columns)
        return [
            {c: row[c] for c in cols} for row in self.df.select(*cols).collect()
        ]

    def show(self, n: int = 10):  # pragma: no cover
        self.df.show(n)

    def explain(self, mode: str = "formatted"):  # pragma: no cover
        self.df.explain(mode)

    def _wrap(self, df: SparkDF) -> "DataFrame":
        return DataFrame(df)

    # -- core / exploration (Operations/Core.hs) -----------------------

    @property
    def column_names(self) -> list[str]:
        return self.df.columns

    def n_columns(self) -> int:
        return len(self.df.columns)

    def n_rows(self) -> int:
        """Action (reference ``nRows``)."""
        return self.df.count()

    def dimensions(self) -> tuple[int, int]:
        return (self.n_rows(), self.n_columns())

    def is_empty(self) -> bool:
        """Reference ``null`` — no rows (action; uses isEmpty, which
        stops at the first produced row instead of counting)."""
        return self.df.isEmpty()

    def is_numeric(self, col: str) -> bool:
        """Column.hs ``isNumeric`` (schema-level, no job)."""
        if col not in self.df.columns:
            raise ColumnNotFoundError(col, self.df.columns)
        t = dict(self.df.dtypes)[col]
        return is_numeric_dtype(t)

    def has_missing(self, col: str) -> bool:
        """Column.hs ``hasMissing`` — any nulls in the column
        (action; one filtered isEmpty probe, no full count)."""
        if col not in self.df.columns:
            raise ColumnNotFoundError(col, self.df.columns)
        return not self.df.where(F.col(col).isNull()).isEmpty()

    # -- subset (Operations/Subset.hs) ---------------------------------

    def select(self, cols: Sequence) -> "DataFrame":
        """Subset.hs ``select`` — missing NAMES raise the typed
        did-you-mean error up front (Spark's AnalysisException comes
        later and without the hint); expression args pass through."""
        for c in cols:
            if isinstance(c, str) and c not in self.df.columns:
                raise ColumnNotFoundError(c, self.df.columns)
        return self._wrap(self.df.select(*[_c(c) for c in cols]))

    def select_by_name_range(self, start: str, end: str) -> "DataFrame":
        """Subset.hs ``byNameRange`` — inclusive positional range of
        the current column order."""
        names = self.df.columns
        i, j = names.index(start), names.index(end)
        return self.select(names[i : j + 1])

    def select_by_index_range(self, start: int, end: int) -> "DataFrame":
        return self.select(self.df.columns[start : end + 1])

    def select_by_property(self, pred: Callable[[str], bool]) -> "DataFrame":
        """Subset.hs ``byNameProperty``."""
        return self.select([c for c in self.df.columns if pred(c)])

    def exclude(self, cols: Sequence[str]) -> "DataFrame":
        """Subset.hs ``exclude`` — typed error on unknown names
        (Spark's drop silently ignores them, which hides typos)."""
        for c in cols:
            if c not in self.df.columns:
                raise ColumnNotFoundError(c, self.df.columns)
        return self._wrap(self.df.drop(*cols))

    def take(self, n: int) -> "DataFrame":
        """Subset.hs:48 ``take``; negative n is a no-op (test_coverage.md)."""
        if n < 0:
            return self
        return self._wrap(self.df.limit(n))

    def drop_rows(self, n: int) -> "DataFrame":
        if n < 0:
            return self
        return self._wrap(self.df.offset(n))

    def range_rows(self, start: int, end: int) -> "DataFrame":
        """Subset.hs ``range (start, end)`` — rows [start, end)."""
        return self._wrap(self.df.offset(start).limit(max(end - start, 0)))

    def take_last(self, n: int, order_by: Sequence[str] | str | None = None) -> "DataFrame":
        """Subset.hs ``takeLast`` under an EXPLICIT order: "last n" has
        no distributed meaning on an unordered frame (count+offset
        returns run-arbitrary rows), so the order is required —
        MissingOrderError otherwise, matching the typed-error
        discipline of select/sort_by. Result rows come back in
        ascending ``order_by`` order. The plan is sort-desc + limit
        (TakeOrderedAndProject — no global sort materialized), then an
        n-row re-sort."""
        if not order_by:
            raise MissingOrderError(
                "take_last needs order_by=[cols]: last-n of an unordered "
                "distributed frame is nondeterministic (use sort_by + take, "
                "or pass order_by here)"
            )
        cols = [order_by] if isinstance(order_by, str) else list(order_by)
        for c in cols:
            if c not in self.df.columns:
                raise ColumnNotFoundError(c, self.df.columns)
        if n < 0:
            n = 0
        tail = self.df.orderBy(*[F.col(c).desc() for c in cols]).limit(n)
        return self._wrap(tail.orderBy(*[F.col(c).asc() for c in cols]))

    def drop_last(self, n: int, order_by: Sequence[str] | str | None = None) -> "DataFrame":
        """Drop the last n rows under an explicit order (required,
        like take_last). FULLY LAZY (r5 — this was the only verb
        with an eager action): the last-n boundary VALUES come from
        a TakeOrderedAndProject subplan grouped to per-value drop
        counts and broadcast; rows whose order-key values miss that
        (≤ n-entry) set pass through map-side, and only the boundary
        value groups pay a window to trim their tail count — salted
        over DROP_LAST_SALT_BUCKETS hash buckets per value, so even
        a heavily tied boundary value never sorts its population in
        one task (ADVICE r5). Which rows of a
        TIED boundary value are dropped is engine-arbitrary, exactly
        the take_last caveat. Result rows come back in ascending
        ``order_by`` order, as before. For n above
        DROP_LAST_LAZY_MAX the lazy plan's top-n + broadcast side
        would itself be driver-sized, so the verb falls back to the
        old count-based plan (one eager count) — documented, gated,
        and the only configuration where it still runs a job early.
        """
        if not order_by:
            raise MissingOrderError(
                "drop_last needs order_by=[cols]: last-n of an unordered "
                "distributed frame is nondeterministic"
            )
        cols = [order_by] if isinstance(order_by, str) else list(order_by)
        for c in cols:
            if c not in self.df.columns:
                raise ColumnNotFoundError(c, self.df.columns)
        asc = [F.col(c).asc() for c in cols]
        if n <= 0:
            return self._wrap(self.df.orderBy(*asc))
        if n > DROP_LAST_LAZY_MAX:
            total = self.df.count()
            return self._wrap(
                self.df.orderBy(*asc).limit(max(total - n, 0))
            )
        from pyspark.sql.window import Window

        tail = (
            self.df.select(*cols)
            .orderBy(*[F.col(c).desc() for c in cols])
            .limit(n)
            .groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("__dropn"))
        )
        # null-safe join: NULL order-key values sort first under asc,
        # but they DO enter the last-n tail when n exceeds the
        # non-null row count — an equi-join would silently route
        # them to passthru (review r5)
        tkeys = [f"__tk{i}" for i in range(len(cols))]
        tail_r = tail.select(
            *[F.col(c).alias(t) for c, t in zip(cols, tkeys)], "__dropn"
        )
        cond = None
        for c, t in zip(cols, tkeys):
            e = self.df[c].eqNullSafe(tail_r[t])
            cond = e if cond is None else (cond & e)
        joined = self.df.join(F.broadcast(tail_r), cond, "left").drop(*tkeys)
        passthru = joined.where(F.col("__dropn").isNull()).drop("__dropn")
        # Boundary trim, salted (ADVICE r5): a window partitioned by
        # the order-key VALUE would funnel a heavily tied boundary
        # value's entire population into one task. Instead each value
        # is spread over DROP_LAST_SALT_BUCKETS deterministic
        # hash-of-row salt buckets; a tiny per-(value, salt) count
        # aggregate assigns each bucket a greedy drop quota (buckets
        # in salt order absorb the value's drop count until it is
        # exhausted), and the per-row window only ever partitions by
        # (value, salt) — bounded tasks. Rows whose bucket owes no
        # drops skip the quota join entirely (left join miss ⇒ keep).
        # Residual caveat: full-duplicate rows share a salt bucket,
        # so a value tied across IDENTICAL rows still lands in one
        # bucket — but for identical rows every trim is equivalent
        # and only the sort cost, not correctness, is affected.
        # xxhash64 rejects MAP anywhere in the type (also nested, e.g.
        # array<map<...>>) — review r6
        hashable = [c for c, t in self.df.dtypes if "map" not in t]
        salt_e = (
            F.pmod(
                F.xxhash64(*[F.col(c) for c in hashable]),
                F.lit(DROP_LAST_SALT_BUCKETS),
            )
            if hashable
            else F.lit(0)
        )
        b = joined.where(F.col("__dropn").isNotNull()).withColumn(
            "__salt", salt_e
        )
        bc = b.groupBy(*cols, "__salt").agg(
            F.count(F.lit(1)).alias("__cb"),
            F.first("__dropn").alias("__dn"),
        )
        wq = Window.partitionBy(*cols).orderBy("__salt").rowsBetween(
            Window.unboundedPreceding, -1
        )
        qkeys = [f"__qk{i}" for i in range(len(cols))]
        quota = (
            bc.withColumn(
                "__cum", F.coalesce(F.sum("__cb").over(wq), F.lit(0))
            )
            .withColumn(
                "__dropb",
                F.greatest(
                    F.lit(0),
                    F.least(F.col("__cb"), F.col("__dn") - F.col("__cum")),
                ),
            )
            .where(F.col("__dropb") > 0)
            .select(
                *[F.col(c).alias(q) for c, q in zip(cols, qkeys)],
                F.col("__salt").alias("__qsalt"),
                "__cb",
                "__dropb",
            )
        )
        qcond = F.col("__salt") == F.col("__qsalt")
        for c, q in zip(cols, qkeys):
            qcond = qcond & b[c].eqNullSafe(quota[q])
        b2 = b.join(F.broadcast(quota), qcond, "left").drop(*qkeys, "__qsalt")
        w_rn = Window.partitionBy(*cols, "__salt").orderBy(
            F.monotonically_increasing_id()
        )
        boundary = (
            b2.withColumn("__rn", F.row_number().over(w_rn))
            .where(
                F.col("__dropb").isNull()
                | (F.col("__rn") <= F.col("__cb") - F.col("__dropb"))
            )
            .drop("__dropn", "__salt", "__cb", "__dropb", "__rn")
        )
        return self._wrap(passthru.unionByName(boundary).orderBy(*asc))

    def filter_where(self, cond: Column) -> "DataFrame":
        """Subset.hs:169 ``filterWhere`` — predicate stays JVM-side and is
        pushed into the parquet scan when it references scan columns."""
        return self._wrap(self.df.filter(cond))

    filter = filter_where

    def filter_by(self, pred: Callable[[Column], Column], col) -> "DataFrame":
        """Subset.hs:102 ``filter``/``filterBy`` with a predicate."""
        return self._wrap(self.df.filter(pred(_c(col))))

    def filter_just(self, col: str) -> "DataFrame":
        return self._wrap(self.df.filter(F.col(col).isNotNull()))

    def filter_nothing(self, col: str) -> "DataFrame":
        return self._wrap(self.df.filter(F.col(col).isNull()))

    def filter_all_just(self) -> "DataFrame":
        """Subset.hs ``filterAllJust`` — drop rows with any null."""
        return self._wrap(self.df.dropna("any"))

    def filter_all_nothing(self) -> "DataFrame":
        cond = None
        for c in self.df.columns:
            cc = F.col(c).isNull()
            cond = cc if cond is None else (cond & cc)
        return self._wrap(self.df.filter(cond))

    def distinct(self) -> "DataFrame":
        return self._wrap(self.df.distinct())

    def sample(self, fraction: float, seed: int = 42) -> "DataFrame":
        """Subset.hs ``sample`` — per-partition Bernoulli sampling,
        no shuffle."""
        return self._wrap(self.df.sample(fraction=fraction, seed=seed))

    def random_split(self, weights: Sequence[float], seed: int = 42):
        return [self._wrap(d) for d in self.df.randomSplit(list(weights), seed)]

    def sample_by(self, col: str, fractions: dict, seed: int = 42) -> "DataFrame":
        """Stratified Bernoulli sample: per-stratum fraction, map-only
        (no shuffle) — the scale path for class-balancing a corpus."""
        return self._wrap(self.df.sampleBy(col, fractions, seed))

    def shuffle(self, seed: int = 42) -> "DataFrame":
        """Permutation.hs ``shuffle`` — distributed sort on a seeded
        pseudo-random key."""
        return self._wrap(self.df.orderBy(F.rand(seed)))

    def sample_k_per_group(
        self,
        group_col: str,
        k: int,
        key_cols: Sequence[str],
        salt: int | None = None,
    ) -> "DataFrame":
        """Deterministic k-per-group sample: within each group keep
        the k rows ranked first by the portable md5 row-uniform over
        ``key_cols`` (the same retry-safe ordering as mixture
        sampling — engine- and run-independent, unlike ``rand()``).

        Default: one shuffle on the group key; each group ranks on
        its own reducer, so the plan scales with group COUNT. For
        FEW HUGE groups pass ``salt`` (e.g. 256): phase one ranks
        within (group, hash-salt cell) — parallelism #groups×salt —
        and keeps k per cell; phase two ranks only the ≤ k·salt
        survivors per group. The global top-k of a group is always
        inside the union of its cell top-ks, so the result is
        IDENTICAL to the unsalted plan (asserted in tests), but no
        reducer ever sees more than max(|group|/salt, k·salt) rows."""
        from pyspark.sql.window import Window

        # concat_ws SKIPS null parts, so ('a',NULL,'b') and ('a','b',NULL)
        # would collide; coalesce each key to a sentinel to keep the
        # row-uniform injective over distinct key tuples. Ties on fully
        # identical tuples still sort engine-arbitrarily — key_cols
        # should be (near-)unique.
        keyed = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in key_cols
        ]
        u = F.md5(F.concat_ws("\x1f", *keyed))
        order = [u.asc(), *[F.col(c).asc() for c in key_cols]]
        df = self.df
        if salt:
            cell = F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(salt))
            w1 = Window.partitionBy(F.col(group_col), cell).orderBy(*order)
            df = (
                df.withColumn("__rn1", F.row_number().over(w1))
                .where(F.col("__rn1") <= k)
                .drop("__rn1")
            )
        w = Window.partitionBy(group_col).orderBy(*order)
        return self._wrap(
            df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .drop("__rn")
        )

    def sample_weighted(
        self, k: int, weight_col, key_cols: Sequence[str]
    ) -> "DataFrame":
        """Deterministic weighted k-sample WITHOUT replacement
        (Efraimidis–Spirakis A-ES): rank every row by ln(u)/w (the
        well-conditioned log form of the textbook u^(1/w); see
        _aes_log_key) — u the portable md5 row-uniform over
        ``key_cols``, w the row weight — and keep the top k.
        Inclusion probability is proportional to weight; the
        selection is engine/run/retry-stable like mixture_select,
        and the plan is a TakeOrderedAndProject (per-partition heaps
        — no global sort, no shuffle of non-winners). Rows with null
        or non-positive weight are excluded. ``key_cols`` should be
        (near-)unique: fully tied key tuples rank identically and
        the k-boundary cut among them is engine-arbitrary (the
        sample_k_per_group caveat). The standard importance-weighted
        corpus downsampler (e.g. quality-weighted selection)."""
        w = _c(weight_col).cast("double")
        key = _aes_log_key(key_cols, w)
        # NaN > 0 is true under Spark's NaN-greatest ordering, and
        # ln(u)/NaN = NaN sorts FIRST desc — exclude NaN explicitly
        return self._wrap(
            self.df.where(w.isNotNull() & ~F.isnan(w) & (w > 0))
            .withColumn("__aes", key)
            .orderBy(
                F.col("__aes").desc(), *[F.col(c).asc() for c in key_cols]
            )
            .limit(k)
            .drop("__aes")
        )

    def sample_weighted_per_group(
        self, group_col: str, k: int, weight_col, key_cols: Sequence[str]
    ) -> "DataFrame":
        """Deterministic weighted k-sample without replacement WITHIN
        each group (Efraimidis–Spirakis per partition of the data):
        the same portable ln(u)/w rank as sample_weighted
        (_aes_log_key), kept top-k per group via a group-partitioned
        window — one shuffle on the group key, parallel across
        groups. Rows with null or non-positive weight are excluded;
        ``key_cols`` should be (near-)unique (see sample_weighted)."""
        from pyspark.sql.window import Window

        w = _c(weight_col).cast("double")
        key = _aes_log_key(key_cols, w)
        win = Window.partitionBy(group_col).orderBy(
            key.desc(), *[F.col(c).asc() for c in key_cols]
        )
        return self._wrap(
            self.df.where(w.isNotNull() & ~F.isnan(w) & (w > 0))
            .withColumn("__rn", F.row_number().over(win))
            .where(F.col("__rn") <= k)
            .drop("__rn")
        )

    def pipe(self, fn, *args, **kwargs) -> "DataFrame":
        """Operators.hs ``|>`` — apply fn(df, *args) in a fluent
        chain."""
        return fn(self, *args, **kwargs)

    def fold(self, fn, items) -> "DataFrame":
        """Core.hs ``fold`` — left-fold a verb over items."""
        out = self
        for item in items:
            out = fn(item, out)
        return out

    def k_folds(self, k: int, seed: int = 42):
        """Subset.hs ``kFolds`` — k disjoint folds.

        The fold is derived from row CONTENT (seeded xxhash64 of all
        columns), not ``F.rand``: the k filters execute as independent
        jobs, and a rand-based fold is only disjoint/exhaustive if the
        partition layout is bit-identical across all of them — task
        retries break that. A content hash is stable by construction.
        Duplicate rows co-locate in one fold (documented trade-off)."""
        cols = [F.col(c) for c in self.df.columns]
        fold = F.pmod(F.xxhash64(F.lit(seed), *cols), F.lit(k)).cast("int")
        bucketed = self.df.withColumn("__fold", fold)
        return [
            self._wrap(bucketed.filter(F.col("__fold") == i).drop("__fold"))
            for i in range(k)
        ]

    # -- transformations (Operations/Transformations.hs) ---------------

    def derive(self, name: str, expr: Column) -> "DataFrame":
        """Transformations.hs ``derive``. The defining expression is
        recorded as column METADATA (reference CHANGELOG 0.4.0.5
        derived-column annotations / 0.4.0.7 expression
        pretty-printing) and surfaced by ``describe_columns`` —
        schema metadata rides the attribute through downstream
        projections at zero plan cost."""
        return self._wrap(
            self.df.withColumn(name, _with_provenance(expr, name))
        )

    def derive_many(self, named: dict[str, Column]) -> "DataFrame":
        return self._wrap(
            self.df.withColumns(
                {n: _with_provenance(e, n) for n, e in named.items()}
            )
        )

    def apply(self, name: str, fn: Callable[[Column], Column]) -> "DataFrame":
        """Transformations.hs ``apply`` — map a column in place
        (provenance recorded like ``derive``)."""
        if name not in self.df.columns:
            raise ColumnNotFoundError(name, self.df.columns)
        return self._wrap(
            self.df.withColumn(name, _with_provenance(fn(F.col(name)), name))
        )

    def safe_apply(self, name: str, fn: Callable[[Column], Column]):
        """Transformations.hs:50 ``safeApply`` — the Either-returning
        ``apply``: ``(new frame, None)`` on success, ``(self
        unchanged, typed error)`` on failure; never raises.

        Failure is detected at plan ANALYSIS time (Spark's column
        resolution + type check), the same place the reference's
        ``mapColumn`` type-checks the column against the function —
        no job runs. Value-level parse failures are the domain of
        ``typing.parse_with_types(track_failures=True)`` +
        ``describe_columns``'s partially_parsed counter."""
        from .errors import TypeMismatchError

        if name not in self.df.columns:
            return self, ColumnNotFoundError(name, self.df.columns)
        try:
            out = self.df.withColumn(name, fn(F.col(name)))
            out.schema  # force analysis eagerly (no job)
        except Exception as e:
            return self, TypeMismatchError(f"safeApply({name!r}): {e}")
        return self._wrap(out), None

    def apply_many(self, names: Sequence[str], fn) -> "DataFrame":
        out = self.df
        for n in names:
            if n not in out.columns:
                raise ColumnNotFoundError(n, out.columns)
            out = out.withColumn(n, fn(F.col(n)))
        return self._wrap(out)

    def apply_where(self, cond: Column, target: str, fn) -> "DataFrame":
        """Transformations.hs ``applyWhere`` — apply fn to ``target``
        only on rows where ``cond`` holds."""
        if target not in self.df.columns:
            raise ColumnNotFoundError(target, self.df.columns)
        c = F.col(target)
        return self._wrap(
            self.df.withColumn(target, F.when(cond, fn(c)).otherwise(c))
        )

    def recode(self, name: str, mapping: dict, default=None) -> "DataFrame":
        """Functions.hs ``recode``/``recodeWithDefault`` — value
        remap via a chained CASE expression (codegen-friendly).

        Unmapped keys become null (reference ``recode`` yields
        Nothing) unless ``default`` is given (``recodeWithDefault``)."""
        c = F.col(name)
        fallback = (
            F.lit(None).cast(self.df.schema[name].dataType)
            if default is None
            else F.lit(default)
        )
        expr = None
        for k, v in mapping.items():
            expr = F.when(c == k, v) if expr is None else expr.when(c == k, v)
        expr = fallback if expr is None else expr.otherwise(fallback)
        return self._wrap(self.df.withColumn(name, expr))

    def impute(self, cols: Sequence[str], strategy="mean") -> "DataFrame":
        """Statistics.hs ``imputeWith`` — fill nulls with a column
        statistic. The statistic is a one-row agg plan broadcast back
        (no driver collect, stays a single distributed plan)."""
        if isinstance(strategy, (int, float, str)) and strategy not in (
            "mean",
            "median",
        ):
            filled = self.df.fillna(strategy, subset=list(cols))
            return self._wrap(filled)
        from .operators.quantiles import exact_quantiles, quantile_buffer_fits

        if strategy == "median" and not quantile_buffer_fits(self.df):
            # large input: sharded exact-median plan instead of the
            # single-reducer percentile buffer; pivot the long result
            # back to the same one-row __fill_* shape
            med = exact_quantiles(self.df, list(cols), [0.5])
            stats = med.agg(
                *[
                    F.min(
                        F.when(F.col("column_name") == c, F.col("value"))
                    ).alias(f"__fill_{c}")
                    for c in cols
                ]
            )
        else:
            aggs = []
            for c in cols:
                stat = (
                    F.avg(F.col(c))
                    if strategy == "mean"
                    else F.percentile(F.col(c), F.lit(0.5))
                )
                aggs.append(stat.alias(f"__fill_{c}"))
            stats = self.df.agg(*aggs)
        out = self.df.crossJoin(F.broadcast(stats))
        for c in cols:
            out = out.withColumn(c, F.coalesce(F.col(c), F.col(f"__fill_{c}")))
        return self._wrap(out.drop(*[f"__fill_{c}" for c in cols]))

    def z_score(self, col: str, name: str | None = None) -> "DataFrame":
        """Functions.hs ``zScore`` — global standardization.

        Mean/stddev come from a one-row agg plan broadcast-crossJoined
        back (same shape as ``impute``): fully distributed, unlike an
        empty-partition window which funnels the whole table through
        one executor."""
        name = name or col
        c = _c(col).cast("double")
        stats = self.df.agg(
            F.avg(c).alias("__zs_mean"),
            F.stddev_samp(c).alias("__zs_std"),
        )
        out = (
            self.df.crossJoin(F.broadcast(stats))
            .withColumn(
                name,
                (c - F.col("__zs_mean")) / F.nullif(F.col("__zs_std"), F.lit(0.0)),
            )
            .drop("__zs_mean", "__zs_std")
        )
        return self._wrap(out)

    def clone_column(self, src: str, dst: str) -> "DataFrame":
        return self._wrap(self.df.withColumn(dst, F.col(src)))

    def rename(self, old: str, new: str) -> "DataFrame":
        """Core.hs:427 ``rename`` — raises the typed error on a
        missing source column (Spark's withColumnRenamed silently
        no-ops, which hides typos; the reference throws)."""
        if old not in self.df.columns:
            raise ColumnNotFoundError(old, self.df.columns)
        return self._wrap(self.df.withColumnRenamed(old, new))

    def rename_safe(self, old: str, new: str) -> tuple["DataFrame", str | None]:
        """Core.hs:478 ``renameSafe`` — Either-style: returns
        (renamed frame, None) on success, (self unchanged, error
        message) if the column is absent."""
        try:
            return self.rename(old, new), None
        except ColumnNotFoundError as e:
            return self, str(e)

    def rename_many(self, mapping: dict[str, str]) -> "DataFrame":
        missing = [c for c in mapping if c not in self.df.columns]
        if missing:
            raise ColumnNotFoundError(missing[0], self.df.columns)
        return self._wrap(self.df.withColumnsRenamed(mapping))

    # -- sorting & row addressing (Operations/Permutation.hs) ----------

    def sort_by(self, cols: Sequence, orders: Sequence[str] | str = Asc) -> "DataFrame":
        """Permutation.hs:46 ``sortBy`` — global distributed sort
        (range-partitioned exchange). ``cols`` may be names or
        arbitrary expressions (Asc/Desc Expr in the reference)."""
        if isinstance(orders, str):
            orders = [orders] * len(cols)
        for c in cols:
            if isinstance(c, str) and c not in self.df.columns:
                raise ColumnNotFoundError(c, self.df.columns)
        sort_cols = [
            _c(c).asc() if o == Asc else _c(c).desc()
            for c, o in zip(cols, orders)
        ]
        return self._wrap(self.df.orderBy(*sort_cols))

    def with_row_index(self, order_by: Sequence[str], name: str = "row_index") -> "DataFrame":
        """0-based row index under an explicit total order.

        Two fully-parallel passes, not a single-partition sort window:
        range-repartition + per-partition sort gives each partition a
        contiguous slice of the global order (range partition i holds
        keys below partition i+1); a per-partition-count branch off
        the SAME exchange (deduped by ReuseExchange; the range sampler
        is seed-deterministic regardless) is cumsum'd into offsets —
        a ≤ shuffle.partitions-row side relation, where a one-partition
        window is fine — and broadcast back. index = offset + local
        row_number. No stage ever moves the full table through one
        executor."""
        from pyspark.sql.window import Window

        keys = [F.col(c) for c in order_by]
        tagged = (
            self.df.repartitionByRange(*keys)
            .sortWithinPartitions(*keys)
            .withColumn("__pid", F.spark_partition_id())
        )
        w_off = Window.orderBy("__pid").rowsBetween(
            Window.unboundedPreceding, -1
        )
        offsets = (
            tagged.groupBy("__pid")
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .select(
                "__pid",
                F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
            )
        )
        w_local = Window.partitionBy("__pid").orderBy(*keys)
        return self._wrap(
            tagged.join(F.broadcast(offsets), "__pid")
            .withColumn(name, F.row_number().over(w_local) - 1 + F.col("__off"))
            .drop("__pid", "__off")
        )

    def apply_at_index(
        self, index: int, target: str, fn, order_by: Sequence[str]
    ) -> "DataFrame":
        """Transformations.hs ``applyAtIndex`` — map one positional
        row; out-of-range index is a no-op (reference semantics)."""
        if target not in self.df.columns:
            raise ColumnNotFoundError(target, self.df.columns)
        idx = self.with_row_index(order_by, "__idx").df
        c = F.col(target)
        return self._wrap(
            idx.withColumn(
                target, F.when(F.col("__idx") == index, fn(c)).otherwise(c)
            ).drop("__idx")
        )

    def insert_column(
        self,
        name: str,
        values: Sequence,
        order_by: Sequence[str],
        default=None,
    ) -> "DataFrame":
        """Core.hs ``insertVectorWithDefault`` — positionally attach
        driver-side values under an explicit order; rows beyond the
        list get ``default``. For table-sized data use a join, not
        this (values live on the driver by construction)."""
        lookup = F.array(*[F.lit(v) for v in values])
        idx = self.with_row_index(order_by, "__idx").df
        val = F.when(
            F.col("__idx") < len(values), F.get(lookup, F.col("__idx"))
        ).otherwise(F.lit(default))
        return self._wrap(idx.withColumn(name, val).drop("__idx"))

    # -- reshape -------------------------------------------------------

    def melt(
        self,
        ids: Sequence[str],
        values: Sequence[str],
        var_name: str = "variable",
        value_name: str = "value",
    ) -> "DataFrame":
        """Wide→long unpivot (no reference analogue; standard
        analytics surface). Pure row expansion, no shuffle."""
        return self._wrap(
            self.df.unpivot(list(ids), list(values), var_name, value_name)
        )

    def pivot(
        self,
        group_cols: Sequence[str],
        pivot_col: str,
        pivot_values: Sequence,
        **named: Column,
    ) -> "DataFrame":
        """Long→wide pivot with an explicit value list (explicit
        list keeps the plan one-pass and the schema deterministic —
        at scale, value discovery is a separate job)."""
        g = self.df.groupBy(*group_cols).pivot(pivot_col, list(pivot_values))
        return self._wrap(g.agg(*[e.alias(n) for n, e in named.items()]))

    # -- grouping / aggregation (Operations/Aggregation.hs) ------------

    def group_by(self, cols: Sequence[str]) -> "GroupedDataFrame":
        """Aggregation.hs:45 ``groupBy`` — typed error if any key is
        missing (test_coverage.md: "If any column doesn't exist
        throw an error")."""
        for c in cols:
            if isinstance(c, str) and c not in self.df.columns:
                raise ColumnNotFoundError(c, self.df.columns)
        return GroupedDataFrame(self.df, list(cols))

    def aggregate(self, **named: Column) -> "DataFrame":
        """Whole-table aggregation (groupBy [])."""
        return self._wrap(
            self.df.agg(*[e.alias(n) for n, e in named.items()])
        )

    def rollup(self, cols: Sequence[str], **named: Column) -> "DataFrame":
        """Hierarchical subtotals (Aggregation.hs has single-level
        groups; rollup is the Spark-native generalization)."""
        return self._wrap(
            self.df.rollup(*cols).agg(*[e.alias(n) for n, e in named.items()])
        )

    def cube(self, cols: Sequence[str], **named: Column) -> "DataFrame":
        return self._wrap(
            self.df.cube(*cols).agg(*[e.alias(n) for n, e in named.items()])
        )

    def grouping_sets(
        self, sets: Sequence[Sequence[str]], **named: Column
    ) -> "DataFrame":
        """Explicit multi-level aggregation (the general form of
        rollup/cube): one pass, one shuffle, each requested grouping
        computed from the same scan. Columns absent from a grouping
        come back null, as in SQL GROUPING SETS."""
        cols = []
        for s in sets:
            for c in s:
                if c not in cols:
                    cols.append(c)
        return self._wrap(
            self.df.groupingSets([list(s) for s in sets], *cols).agg(
                *[e.alias(n) for n, e in named.items()]
            )
        )

    def value_counts(self, col: str, normalize: bool = False) -> "DataFrame":
        """Core.hs:683 ``valueCounts`` / ``valueProportions`` —
        partial (map-side) aggregation then a single shuffle on the
        value; proportion via a broadcast one-row total. Typed error
        on a missing column (test_coverage.md)."""
        if col not in self.df.columns:
            raise ColumnNotFoundError(col, self.df.columns)
        counts = self.df.groupBy(col).agg(F.count(F.lit(1)).alias("count"))
        if normalize:
            total = self.df.agg(F.count(F.lit(1)).alias("__total"))
            counts = counts.crossJoin(F.broadcast(total)).select(
                col,
                (F.col("count") / F.col("__total")).alias("proportion"),
            )
        return self._wrap(counts)

    frequencies = value_counts

    # -- statistics (Operations/Statistics.hs) -------------------------

    def correlation(self, c1: str, c2: str) -> float | None:
        """Statistics.hs:205 ``correlation`` (action, scalar — mirrors the
        reference returning ``Maybe Double``)."""
        row = self.df.agg(F.corr(_c(c1), _c(c2)).alias("r")).first()
        return row["r"]

    def covariance(self, c1: str, c2: str, sample: bool = True) -> float | None:
        """Sample (or population) covariance — the Statistics.hs
        moment family's missing pair statistic; one agg pass."""
        fn = F.covar_samp if sample else F.covar_pop
        return self.df.agg(fn(_c(c1), _c(c2)).alias("v")).first()["v"]

    def corr_matrix(self, cols: Sequence[str] | None = None) -> "DataFrame":
        """Pairwise Pearson correlations of the numeric columns in
        long form (col_a, col_b, r), upper triangle only — ALL
        k(k-1)/2 coefficients in ONE aggregation pass over the data
        (the same single-scan trick plot_correlation_matrix uses),
        then unpivoted from the one-row result. Zero-variance pairs
        come back null, matching F.corr."""
        if cols is None:
            cols = [c for c, t in self.df.dtypes if is_numeric_dtype(t)]
        pairs = [
            (i, j) for i in range(len(cols)) for j in range(len(cols)) if i < j
        ]
        if not pairs:
            raise ValueError("corr_matrix needs at least two numeric columns")
        aggs = [
            F.corr(
                F.col(cols[i]).cast("double"), F.col(cols[j]).cast("double")
            ).alias(f"__r_{i}_{j}")
            for i, j in pairs
        ]
        one = self.df.agg(*aggs)
        stack_args = []
        for i, j in pairs:
            stack_args += [_q(cols[i]), _q(cols[j]), f"`__r_{i}_{j}`"]
        return self._wrap(
            one.selectExpr(
                f"stack({len(pairs)}, {', '.join(stack_args)}) as "
                "(col_a, col_b, r)"
            )
        )

    def chi_square(self, c1: str, c2: str) -> "DataFrame":
        """Pearson chi-square test of independence between two
        categorical columns: one (a, b) contingency aggregation,
        margins re-aggregated from its (category-bounded) output and
        joined back broadcast, statistic summed in a final tiny agg.
        The data shuffles ONCE; everything after is bounded by the
        category-pair cardinality. Returns one row
        (chi2, dof, n, cramers_v) — Cramér's V normalizes the
        statistic to [0, 1] effect size; pair chi2 with a chi-square
        CDF externally for a p-value (no SciPy dependency here).
        Null categories are excluded (both engines group them as a
        level otherwise — excluded for a cleaner contract)."""
        a, b = _c(c1), _c(c2)
        obs = (
            self.df.where(a.isNotNull() & b.isNotNull())
            .groupBy(a.alias("__a"), b.alias("__b"))
            .agg(F.count(F.lit(1)).alias("__o"))
        )
        row_m = obs.groupBy("__a").agg(F.sum("__o").alias("__ra"))
        col_m = obs.groupBy("__b").agg(F.sum("__o").alias("__cb"))
        tot = obs.agg(F.sum("__o").alias("__n"))
        exp = F.col("__ra") * F.col("__cb") / F.col("__n")
        d = F.col("__o") - exp
        joined = (
            obs.join(F.broadcast(row_m), "__a")
            .join(F.broadcast(col_m), "__b")
            .crossJoin(F.broadcast(tot))
        )
        agged = joined.agg(
            F.sum(d * d / exp).alias("chi2"),
            (
                (F.countDistinct("__a") - 1) * (F.countDistinct("__b") - 1)
            ).cast("long").alias("dof"),
            F.max("__n").alias("n"),
            F.least(
                F.countDistinct("__a") - 1, F.countDistinct("__b") - 1
            ).alias("__mindim"),
        )
        v = F.sqrt(
            F.col("chi2")
            / F.nullif(F.col("n") * F.col("__mindim"), F.lit(0)).cast("double")
        )
        return self._wrap(
            agged.select("chi2", "dof", "n", v.alias("cramers_v"))
        )

    def _two_sample_prefix(self, value_col, group_col, a, b):
        """Shared machinery for the exact two-sample tests (KS,
        Mann–Whitney): per-distinct-value counts of the two
        populations (ONE data-sized shuffle) plus EXCLUSIVE global
        prefix sums in value order via the with_row_index
        partition-offset pattern — range repartition so each
        partition holds a contiguous slice of the value order,
        per-partition totals cumsum'd into offsets on a
        ≤ shuffle.partitions-row side relation and broadcast back,
        local cumulative windows per partition. No stage funnels the
        data through a single sort.

        Returns (per_value, totals): per_value has one row per
        distinct value with __v, __na, __nb, __cuma, __cumb
        (INCLUSIVE cumulative counts); totals is one row
        (__ta, __tb)."""
        from pyspark.sql.window import Window

        v, g = _c(value_col), _c(group_col)
        counts = (
            self.df.where(v.isNotNull() & g.isin(a, b))
            .groupBy(v.alias("__v"))
            .agg(
                F.sum(F.when(g == a, 1).otherwise(0)).alias("__na"),
                F.sum(F.when(g == b, 1).otherwise(0)).alias("__nb"),
            )
        )
        tagged = (
            counts.repartitionByRange("__v")
            .sortWithinPartitions("__v")
            .withColumn("__pid", F.spark_partition_id())
        )
        w_off = Window.orderBy("__pid").rowsBetween(
            Window.unboundedPreceding, -1
        )
        offsets = (
            tagged.groupBy("__pid")
            .agg(F.sum("__na").alias("__pa"), F.sum("__nb").alias("__pb"))
            .select(
                "__pid",
                F.coalesce(F.sum("__pa").over(w_off), F.lit(0)).alias("__offa"),
                F.coalesce(F.sum("__pb").over(w_off), F.lit(0)).alias("__offb"),
            )
        )
        totals = counts.agg(
            F.sum("__na").alias("__ta"), F.sum("__nb").alias("__tb")
        )
        w_local = (
            Window.partitionBy("__pid")
            .orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        per_value = (
            tagged.join(F.broadcast(offsets), "__pid")
            .select(
                "__v",
                "__na",
                "__nb",
                (F.sum("__na").over(w_local) + F.col("__offa")).alias("__cuma"),
                (F.sum("__nb").over(w_local) + F.col("__offb")).alias("__cumb"),
            )
        )
        return per_value, totals

    def ks_test(self, value_col, group_col, a, b) -> "DataFrame":
        """Exact two-sample Kolmogorov–Smirnov statistic between the
        ``a`` and ``b`` populations of ``group_col`` — the standard
        numeric-distribution drift check between two corpus slices.
        Fully parallel (see _two_sample_prefix); KS =
        max |ecdf_a - ecdf_b| over distinct values. Returns one row
        (ks, n_a, n_b, n_values)."""
        per_value, totals = self._two_sample_prefix(
            value_col, group_col, a, b
        )
        # nullif: an empty population yields a null ks rather than a
        # division error under the driver's possible ANSI session.
        # The window evaluates in a SELECT (a window inside an
        # aggregate is illegal); the agg then reduces its output.
        diff = F.abs(
            F.col("__cuma") / F.nullif(F.col("__ta"), F.lit(0))
            - F.col("__cumb") / F.nullif(F.col("__tb"), F.lit(0))
        )
        return self._wrap(
            per_value.crossJoin(F.broadcast(totals))
            .select(diff.alias("__d"), "__ta", "__tb")
            .agg(
                F.max("__d").alias("ks"),
                F.max("__ta").alias("n_a"),
                F.max("__tb").alias("n_b"),
                F.count(F.lit(1)).alias("n_values"),
            )
        )

    def spearman_corr(self, col_a, col_b) -> "DataFrame":
        """Spearman rank correlation — Pearson on midranks, the
        monotonic-association companion to ``correlation`` (robust
        to outliers and nonlinear-but-monotone relations). Returns
        one row (spearman, pearson, n) so the two coefficients read
        side by side.

        No global sort: each column's per-VALUE midranks come from
        a value-keyed count agg + the partition-offset prefix
        pattern (midrank = cum − (m−1)/2 for m ties ending at
        inclusive prefix cum), joined back value-keyed (AQE picks
        the strategy); one corr agg finishes. Rows where either
        side is null/NaN are excluded pairwise-complete."""
        from pyspark.sql.window import Window

        a, b = _c(col_a).cast("double"), _c(col_b).cast("double")
        src = self.df.select(a.alias("__a"), b.alias("__b")).where(
            F.col("__a").isNotNull()
            & F.col("__b").isNotNull()
            & ~F.isnan("__a")
            & ~F.isnan("__b")
        )

        def midranks(col):
            counts = src.groupBy(F.col(col).alias("__v")).agg(
                F.count(F.lit(1)).alias("__m")
            )
            tagged = (
                counts.repartitionByRange("__v")
                .sortWithinPartitions("__v")
                .withColumn("__pid", F.spark_partition_id())
            )
            w_off = Window.orderBy("__pid").rowsBetween(
                Window.unboundedPreceding, -1
            )
            offsets = (
                tagged.groupBy("__pid")
                .agg(F.sum("__m").alias("__pm"))
                .select(
                    "__pid",
                    F.coalesce(
                        F.sum("__pm").over(w_off), F.lit(0)
                    ).alias("__off"),
                )
            )
            w_local = (
                Window.partitionBy("__pid")
                .orderBy("__v")
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            return tagged.join(F.broadcast(offsets), "__pid").select(
                F.col("__v").alias(f"{col}_v"),
                (
                    F.sum("__m").over(w_local)
                    + F.col("__off")
                    - (F.col("__m") - 1) / 2.0
                ).alias(f"{col}_r"),
            )

        ra, rb = midranks("__a"), midranks("__b")
        ranked = src.join(
            ra, F.col("__a") == F.col("__a_v")
        ).join(rb, F.col("__b") == F.col("__b_v"))
        return self._wrap(
            ranked.agg(
                F.corr("__a_r", "__b_r").alias("spearman"),
                F.corr("__a", "__b").alias("pearson"),
                F.count(F.lit(1)).alias("n"),
            )
        )

    def kaplan_meier(self, duration_col, event_col) -> "DataFrame":
        """Kaplan–Meier survival estimator over (duration, event)
        pairs — event = 1 observed, 0 right-censored (the standard
        churn/retention/time-to-failure curve). Returns one row per
        distinct duration (t, n_risk, n_event, n_censored, survival)
        with S(t) = Π_{t' <= t} (1 - d_{t'} / r_{t'}).

        Rides the SAME partition-offset prefix machinery as the
        two-sample tests (_two_sample_prefix, a = events,
        b = censored): per-duration counts and inclusive cumulative
        counts arrive fully parallel; the remaining cumulative
        log-product window runs over the PER-DURATION aggregate —
        bounded by the duration domain (days/weeks), not the row
        count. For continuous durations, pre-bucket to a calendar
        grain first.

        When the risk set empties (d_t = r_t), survival is exactly
        0 from that t on — computed via an explicit flag, never
        ln(0) (Spark's log(0) is null and would silently VANISH from
        the window sum)."""
        from pyspark.sql.window import Window

        per_value, totals = self._two_sample_prefix(
            duration_col, event_col, 1, 0
        )
        j = per_value.crossJoin(F.broadcast(totals))
        n_all = (F.col("__ta") + F.col("__tb")).cast("double")
        at_risk = (
            n_all
            - (F.col("__cuma") + F.col("__cumb"))
            + (F.col("__na") + F.col("__nb"))
        )
        term = F.when(
            (F.col("__na") > 0) & (F.col("__na") < at_risk),
            F.log((at_risk - F.col("__na")) / at_risk),
        ).otherwise(F.lit(0.0))
        dead = F.when(F.col("__na") >= at_risk, 1).otherwise(0)
        w = Window.orderBy("t").rowsBetween(
            Window.unboundedPreceding, 0
        )
        rows = j.select(
            F.col("__v").alias("t"),
            at_risk.cast("long").alias("n_risk"),
            F.col("__na").cast("long").alias("n_event"),
            F.col("__nb").cast("long").alias("n_censored"),
            term.alias("__term"),
            dead.alias("__dead"),
        )
        surv = F.when(
            F.sum("__dead").over(w) > 0, F.lit(0.0)
        ).otherwise(F.exp(F.sum("__term").over(w)))
        return self._wrap(
            rows.select(
                "t", "n_risk", "n_event", "n_censored",
                surv.alias("survival"),
            )
        )

    def restricted_mean_survival(
        self, duration_col, event_col, tau: float
    ) -> "DataFrame":
        """Restricted mean survival time — the area under the
        Kaplan–Meier curve up to ``tau`` (the standard effect size
        when hazards are non-proportional: 'average event-free time
        over the first tau days'). One row (rmst, tau, n).

        Built directly on :meth:`kaplan_meier`'s per-duration frame:
        the step integral Σ S(t_prev)·(min(t, tau) − t_prev) plus
        the open tail S(t_last)·(tau − t_last) — two windows over
        the duration-bounded KM rows, then one tiny agg."""
        if tau <= 0:
            raise ValueError(f"tau must be > 0, got {tau}")
        from pyspark.sql.window import Window

        km = self.kaplan_meier(duration_col, event_col).df
        w = Window.orderBy("t")
        t = F.col("t").cast("double")
        prev_t = F.coalesce(F.lag(t).over(w), F.lit(0.0))
        prev_s = F.coalesce(F.lag("survival").over(w), F.lit(1.0))
        seg = F.when(
            prev_t < tau,
            prev_s * (F.least(t, F.lit(float(tau))) - prev_t),
        ).otherwise(F.lit(0.0))
        rows = km.select(
            seg.alias("__seg"),
            t.alias("__t"),
            F.col("survival").alias("__s"),
        )
        agg = rows.agg(
            F.sum("__seg").alias("__area"),
            F.max_by("__s", "__t").alias("__last_s"),
            F.max("__t").alias("__last_t"),
            F.count(F.lit(1)).alias("__nt"),
        )
        tail = F.when(
            F.col("__last_t") < tau,
            F.col("__last_s") * (F.lit(float(tau)) - F.col("__last_t")),
        ).otherwise(F.lit(0.0))
        return self._wrap(
            agg.select(
                (F.col("__area") + tail).alias("rmst"),
                F.lit(float(tau)).alias("tau"),
                F.col("__nt").alias("n_durations"),
            )
        )

    def logrank_test(
        self, duration_col, event_col, group_col, a, b
    ) -> "DataFrame":
        """Two-sample log-rank (Mantel–Cox) test — the standard
        comparison of two right-censored survival curves (does
        cohort ``a`` churn faster than ``b``?). At every distinct
        duration with d total events, group a's expected share is
        e_a = d·r_a/r and the hypergeometric variance is
        v = d·(r_a/r)·(1−r_a/r)·(r−d)/(r−1); the statistic is
        z = Σ(d_a − e_a)/√Σv, chi2 = z². Returns one row
        (observed_a, expected_a, z, chi2, n_a, n_b).

        Plan: the same shape as _two_sample_prefix widened to four
        conditional counts (events/censored × group): ONE
        duration-keyed count shuffle, partition-offset cumulative
        sums (range repartition, ≤ shuffle.partitions offset rows
        broadcast back), then one tiny agg over per-duration rows —
        no single-partition sort of the data."""
        from pyspark.sql.window import Window

        v, e, g = _c(duration_col), _c(event_col), _c(group_col)
        cnt = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
        counts = (
            self.df.where(v.isNotNull() & e.isin(1, 0) & g.isin(a, b))
            .groupBy(v.alias("__v"))
            .agg(
                cnt((g == a) & (e == 1)).alias("__da"),
                cnt((g == b) & (e == 1)).alias("__db"),
                cnt(g == a).alias("__na"),
                cnt(g == b).alias("__nb"),
            )
        )
        tagged = (
            counts.repartitionByRange("__v")
            .sortWithinPartitions("__v")
            .withColumn("__pid", F.spark_partition_id())
        )
        w_off = Window.orderBy("__pid").rowsBetween(
            Window.unboundedPreceding, -1
        )
        offsets = (
            tagged.groupBy("__pid")
            .agg(F.sum("__na").alias("__pa"), F.sum("__nb").alias("__pb"))
            .select(
                "__pid",
                F.coalesce(F.sum("__pa").over(w_off), F.lit(0)).alias("__offa"),
                F.coalesce(F.sum("__pb").over(w_off), F.lit(0)).alias("__offb"),
            )
        )
        totals = counts.agg(
            F.sum("__na").alias("__ta"), F.sum("__nb").alias("__tb")
        )
        w_local = (
            Window.partitionBy("__pid")
            .orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        per_value = tagged.join(F.broadcast(offsets), "__pid").select(
            "__v",
            "__da",
            "__db",
            "__na",
            "__nb",
            (F.sum("__na").over(w_local) + F.col("__offa")).alias("__cuma"),
            (F.sum("__nb").over(w_local) + F.col("__offb")).alias("__cumb"),
        )
        j = per_value.crossJoin(F.broadcast(totals))
        # risk sets: everyone whose duration >= t (inclusive cum is
        # through t, so add this row's own counts back)
        ra = (F.col("__ta") - F.col("__cuma") + F.col("__na")).cast("double")
        rb = (F.col("__tb") - F.col("__cumb") + F.col("__nb")).cast("double")
        r = ra + rb
        d = (F.col("__da") + F.col("__db")).cast("double")
        ea = d * ra / F.nullif(r, F.lit(0.0))
        var = (
            d
            * (ra / F.nullif(r, F.lit(0.0)))
            * (rb / F.nullif(r, F.lit(0.0)))
            * (r - d)
            / F.nullif(r - 1.0, F.lit(0.0))
        )
        stats = j.select(
            F.col("__da").cast("double").alias("__oa"),
            F.coalesce(ea, F.lit(0.0)).alias("__ea"),
            F.coalesce(var, F.lit(0.0)).alias("__va"),
            "__ta",
            "__tb",
        ).agg(
            F.sum("__oa").alias("observed_a"),
            F.sum("__ea").alias("expected_a"),
            F.sum("__va").alias("__var"),
            F.max("__ta").alias("n_a"),
            F.max("__tb").alias("n_b"),
        )
        z = (F.col("observed_a") - F.col("expected_a")) / F.nullif(
            F.sqrt(F.col("__var")), F.lit(0.0)
        )
        return self._wrap(
            stats.select(
                "observed_a",
                "expected_a",
                z.alias("z"),
                (z * z).alias("chi2"),
                "n_a",
                "n_b",
            )
        )

    def welch_t_test(self, value_col, group_col, a, b) -> "DataFrame":
        """Welch's unequal-variance two-sample t-test on the means of
        the ``a`` and ``b`` populations — the parametric companion
        to mann_whitney_u (location) and ks_test (shape). ONE
        aggregation pass computes both populations' count/mean/
        variance via conditional aggregates; t and the Welch–
        Satterthwaite degrees of freedom are closed-form expressions
        over that one row. Returns (t, df, mean_a, mean_b, n_a, n_b);
        pair t with a t CDF externally for a p-value."""
        v, g = _c(value_col).cast("double"), _c(group_col)
        va = F.when(g == a, v)
        vb = F.when(g == b, v)
        # NaN excluded like summarize's moments: one NaN would
        # silently poison mean/var/t for its whole population
        one = self.df.where(
            v.isNotNull() & ~F.isnan(v) & g.isin(a, b)
        ).agg(
            F.count(va).alias("n_a"),
            F.count(vb).alias("n_b"),
            F.avg(va).alias("mean_a"),
            F.avg(vb).alias("mean_b"),
            F.var_samp(va).alias("__va"),
            F.var_samp(vb).alias("__vb"),
        )
        sa = F.col("__va") / F.col("n_a")
        sb = F.col("__vb") / F.col("n_b")
        t = (F.col("mean_a") - F.col("mean_b")) / F.nullif(
            F.sqrt(sa + sb), F.lit(0.0)
        )
        dof = (sa + sb) * (sa + sb) / F.nullif(
            sa * sa / (F.col("n_a") - 1) + sb * sb / (F.col("n_b") - 1),
            F.lit(0.0),
        )
        return self._wrap(
            one.select(
                t.alias("t"),
                dof.alias("df"),
                "mean_a",
                "mean_b",
                "n_a",
                "n_b",
            )
        )

    def mann_whitney_u(self, value_col, group_col, a, b) -> "DataFrame":
        """Exact two-sample Mann–Whitney U (Wilcoxon rank-sum) with
        midrank tie handling and the tie-corrected normal
        approximation — the location-shift companion to ks_test's
        shape test, on the same fully parallel rank machinery.

        For each distinct value the midrank is
        start + (ties - 1) / 2 where start is the 1-based global
        position of its first occurrence; U_a = R_a - n_a(n_a+1)/2
        with R_a the rank sum of population a, and
        z = (U_a - n_a n_b / 2) / sigma with the tie-corrected
        sigma = sqrt(n_a n_b / 12 ((N+1) - sum(t³-t)/(N(N-1)))).
        Returns one row (u_a, u_b, z, n_a, n_b)."""
        per_value, totals = self._two_sample_prefix(
            value_col, group_col, a, b
        )
        m = F.col("__na") + F.col("__nb")  # ties at this value
        start = F.col("__cuma") + F.col("__cumb") - m + 1
        midrank = start + (m - 1) / 2.0
        # cube in double: a >~2.09M-row tie at one value overflows
        # long if cubed in bigint (silent wrap / ANSI error)
        md = m.cast("double")
        stats = (
            per_value.select(
                (F.col("__na") * midrank).alias("__ra_part"),
                (md * md * md - md).alias("__tie_part"),
            )
            .agg(
                F.sum("__ra_part").alias("__ra"),
                F.sum("__tie_part").alias("__ties"),
            )
            .crossJoin(F.broadcast(totals))
        )
        na = F.col("__ta").cast("double")
        nb = F.col("__tb").cast("double")
        n = na + nb
        u_a = F.col("__ra") - na * (na + 1) / 2.0
        u_b = na * nb - u_a
        sigma = F.sqrt(
            na * nb / 12.0
            * ((n + 1) - F.col("__ties") / F.nullif(n * (n - 1), F.lit(0.0)))
        )
        z = (u_a - na * nb / 2.0) / F.nullif(sigma, F.lit(0.0))
        return self._wrap(
            stats.select(
                u_a.alias("u_a"),
                u_b.alias("u_b"),
                z.alias("z"),
                F.col("__ta").alias("n_a"),
                F.col("__tb").alias("n_b"),
            )
        )

    def psi(
        self, value_col, group_col, a, b, bins: int = 10, eps: float = 1e-6
    ) -> "DataFrame":
        """Population stability index between the ``a`` (reference)
        and ``b`` (current) populations of ``group_col`` — the
        standard magnitude-weighted drift score (rule of thumb:
        < 0.1 stable, > 0.25 shifted), complementing ks_test's
        max-gap statistic.

        Bin edges are the EXACT ``bins``-quantiles of the reference
        population (one bounded agg; F.percentile ==
        QUANTILE_CONT); every row then bins in-row against the
        broadcast edge array and the (group, bin) counts reduce in
        one shuffle bounded by bins. Zero-count bins are floored at
        ``eps`` (the standard PSI continuity fix) on both
        proportions. Returns one row (psi, n_a, n_b)."""
        v, g = _c(value_col), _c(group_col)
        src = self.df.where(v.isNotNull() & g.isin(a, b))
        probs = F.array(*[F.lit(i / bins) for i in range(1, bins)])
        # an empty reference population yields a null percentile
        # array and would silently degrade to a meaningless row —
        # raise at execution instead (lazily, mirroring the streaming
        # twin reference_bins' ValueError for the same condition)
        raw_edges = F.percentile(v.cast("double"), probs)
        edges = src.where(g == a).agg(
            F.when(
                raw_edges.isNull(),
                F.raise_error(
                    F.lit(
                        "psi: reference population "
                        f"{a!r} has no non-null rows"
                    )
                ).cast("array<double>"),
            )
            .otherwise(raw_edges)
            .alias("__edges")
        )
        bin_ix = F.aggregate(
            F.col("__edges"),
            F.lit(0),
            lambda acc, e: acc + F.when(v.cast("double") > e, 1).otherwise(0),
        )
        counts = (
            src.crossJoin(F.broadcast(edges))
            .groupBy(bin_ix.alias("__bin"))
            .agg(
                F.sum(F.when(g == a, 1).otherwise(0)).alias("__na"),
                F.sum(F.when(g == b, 1).otherwise(0)).alias("__nb"),
            )
        )
        totals = counts.agg(
            F.sum("__na").alias("__ta"), F.sum("__nb").alias("__tb")
        )
        pa = F.greatest(
            F.col("__na") / F.nullif(F.col("__ta"), F.lit(0)).cast("double"),
            F.lit(float(eps)),
        )
        pb = F.greatest(
            F.col("__nb") / F.nullif(F.col("__tb"), F.lit(0)).cast("double"),
            F.lit(float(eps)),
        )
        return self._wrap(
            counts.crossJoin(F.broadcast(totals))
            .select(((pa - pb) * F.log(pa / pb)).alias("__c"), "__ta", "__tb")
            .agg(
                F.sum("__c").alias("psi"),
                F.max("__ta").alias("n_a"),
                F.max("__tb").alias("n_b"),
            )
        )

    def approx_quantiles(
        self, cols: Sequence[str], probs: Sequence[float], rel_err: float = 0.01
    ) -> "DataFrame":
        """Approximate quantiles with BOUNDED sketch state
        (percentile_approx / Greenwald-Khanna): rank error ≤
        ``rel_err``·n with state O(1/rel_err · log(rel_err·n)) per
        column, independent of data size. This is the 100 TB
        profiling path when exact interpolation isn't required —
        the exact paths (quantiles / group quantiles, gated radix
        plan) stay the correctness tools. Same long output shape as
        ``quantiles``: (column_name, prob, value)."""
        acc = max(2, int(round(1.0 / max(rel_err, 1e-6))))
        parr = F.array(*[F.lit(float(p)) for p in probs])
        aggs = [
            F.percentile_approx(F.col(c).cast("double"), parr, F.lit(acc)).alias(c)
            for c in cols
        ]
        one = self.df.agg(*aggs)
        pairs = F.array(
            *[
                F.struct(
                    F.lit(c).alias("column_name"),
                    F.lit(float(p)).alias("prob"),
                    F.get(F.col(c), i).alias("value"),
                )
                for c in cols
                for i, p in enumerate(probs)
            ]
        )
        return self._wrap(
            one.select(F.explode(pairs).alias("__q")).select(
                "__q.column_name", "__q.prob", "__q.value"
            )
        )

    def approx_distinct(self, cols: Sequence[str], rsd: float = 0.05) -> "DataFrame":
        """HLL++ approximate count-distinct per column — one agg pass
        with FIXED-size sketch state per column (vs countDistinct's
        full value set, which must be shuffled and merged whole).
        This is the cardinality-profiling path that still works when
        a column has billions of distinct values; guaranteed relative
        standard deviation <= ``rsd``."""
        aggs = [
            F.approx_count_distinct(F.col(c), rsd).alias(f"__ad_{c}")
            for c in cols
        ]
        one = self.df.agg(*aggs)
        stack_args = []
        for c in cols:
            stack_args.append(_q(c))
            stack_args.append(_bq(f"__ad_{c}"))
        return self._wrap(
            one.selectExpr(
                f"stack({len(cols)}, {', '.join(stack_args)}) as "
                "(column_name, approx_distinct)"
            )
        )

    def freq_items(self, cols: Sequence[str], support: float = 0.01) -> "DataFrame":
        """Heavy hitters per column (misra-gries style sketch, one
        pass, bounded state) — items whose frequency exceeds
        ``support``. May contain false positives, never false
        negatives; the scale tool for spotting hot join keys before
        they skew a shuffle."""
        return self._wrap(self.df.freqItems(list(cols), support))

    def describe_columns(self) -> "DataFrame":
        """Core.hs:513 ``describeColumns`` — one row per column with
        non-null / null / unique / partially-parsed counts + type.

        Single aggregation pass over the table (constant number of
        agg expressions), then an unpivot of the one-row result —
        NOT one job per column.

        partially_parsed (Core.hs:580 ``partiallyParsed``) counts
        values that failed a tracked parse — rows flagged by the
        ``__failed_<col>`` markers that
        ``typing.parse_with_types(track_failures=True)`` leaves
        behind; 0 for columns without markers. Marker columns
        themselves are not listed."""
        df = self.df
        data_cols = [c for c in df.columns if not c.startswith("__failed_")]
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in data_cols:
            aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
            aggs.append(F.countDistinct(F.col(c)).alias(f"__u_{c}"))
            failed = (
                F.sum(F.col(f"__failed_{c}").cast("bigint"))
                if f"__failed_{c}" in df.columns
                else F.lit(0)
            )
            aggs.append(F.coalesce(failed, F.lit(0)).alias(f"__pp_{c}"))
        one = df.agg(*aggs)
        types = dict(df.dtypes)
        stack_args = []
        for c in data_cols:
            stack_args.append(_q(c))
            stack_args.append(f"cast({_bq(f'__nn_{c}')} as bigint)")
            stack_args.append(f"cast(`__n` - {_bq(f'__nn_{c}')} as bigint)")
            stack_args.append(f"cast({_bq(f'__u_{c}')} as bigint)")
            stack_args.append(f"cast({_bq(f'__pp_{c}')} as bigint)")
        stacked = one.selectExpr(
            f"stack({len(data_cols)}, {', '.join(stack_args)}) as "
            "(column_name, non_null, nulls, unique_values, partially_parsed)"
        )
        type_map = F.create_map(
            *[x for c in data_cols for x in (F.lit(c), F.lit(types[c]))]
        )
        # expression provenance (reference CHANGELOG 0.4.0.5):
        # derive/apply annotate their output attribute with the
        # defining expression via schema metadata — a driver-side
        # schema read, no job
        prov = {
            f.name: f.metadata.get("derived_from")
            for f in df.schema.fields
            if f.metadata and f.metadata.get("derived_from")
        }
        prov_map = F.create_map(
            *[
                x
                for c in data_cols
                for x in (F.lit(c), F.lit(prov.get(c)))
            ]
        )
        return self._wrap(
            stacked.withColumn("type", type_map[F.col("column_name")])
            .withColumn("derived_from", prov_map[F.col("column_name")])
        )

    def quantiles(
        self, cols: Sequence[str], probs: Sequence[float]
    ) -> "DataFrame":
        """Statistics.hs:percentile/median — EXACT interpolated
        quantiles as a fully distributed plan (operators/quantiles.py).

        Unlike ``F.percentile`` (whole value multiset buffered per
        group and merged on one reducer), this stays sharded by
        (column, radix-bin) end to end — the scale path for quantiles
        over billions of rows. At small scale the built-in buffer is
        faster; ``summarize`` cuts over at QUANTILE_BUFFER_MAX_BYTES
        (operators/quantiles.py)."""
        from .operators.quantiles import exact_quantiles

        return self._wrap(exact_quantiles(self.df, cols, probs))

    def summarize(self) -> "DataFrame":
        """Statistics.hs:326 ``summarize`` — per numeric column: mean,
        std (sample), min, q25, median, q75, max. One agg pass +
        unpivot, same shape as describe_columns.

        The quartile strategy is picked from the plan's size
        estimate (``quantile_buffer_fits``): inputs within
        QUANTILE_BUFFER_MAX_BYTES (operators/quantiles.py) use the all-JVM
        sorted-tails radix plan (exact_quantiles_tails — hit-bin
        arrays are gate-bounded; 0.57 s at sf0.1 vs 1.7 s for
        ``F.percentile``'s per-column hashmap buffers and 0.80 s for
        the r5–r7 two-Arrow-stage kernel). Inputs above the gate use
        the sharded exact-quantile plan (operators/quantiles.py),
        which keeps every stage's state bounded — the 100 TB path.
        Both paths produce identical quantile_cont values."""
        df = self.df
        num_cols = [c for c, t in df.dtypes if is_numeric_dtype(t)]
        if not num_cols:
            # corr_matrix's contract: typed error instead of the
            # malformed stack(0,) / zero-column Arrow plan either
            # path would otherwise build
            raise ValueError("summarize needs at least one numeric column")
        from .operators.quantiles import exact_quantiles_tails, quantile_buffer_fits

        if not quantile_buffer_fits(df):
            return self._summarize_distributed(df, num_cols)
        # Small path, r8: ALL-JVM — the radix histogram locates each
        # quartile's bin, pass 2 sorts ONLY the hit bins' values
        # (exact_quantiles_tails; gate-bounded state), and moments
        # run as an independent branch of the SAME plan (scheduled
        # concurrently). The two branches meet in a UNION + 16-row
        # agg instead of broadcast joins: each broadcast wait was a
        # serial stage, and swapping them out took the sf0.1 wall
        # 0.94 s -> 0.64 s; replacing the r5-r7 two-Arrow-stage
        # kernel (pack + np_summary, floor ~0.80 s: two Python
        # stage boundaries) lands at 0.54 s. coalesce(12): the gate
        # bounds this input, so fewer tasks = less dispatch latency;
        # never increases partition count. The final ordering is
        # coalesce(1).sortWithinPartitions — the output is #cols
        # rows, and a global orderBy's range exchange measured
        # 0.11 s of pure latency on 8 rows.
        src = df.coalesce(12)
        probs = [0.25, 0.5, 0.75]
        names = ["q25", "median", "q75"]
        # merge_pieces=False: the ≤2 straddle piece rows per
        # (column, prob) merge inside the union-final agg below
        # instead of their own exchange (one fewer serial stage)
        quarts = exact_quantiles_tails(
            src, num_cols, probs, nparts=12, merge_pieces=False
        )
        aggs = []
        for c in num_cols:
            # NaN skipped to match exact_quantiles_tails' cleaning
            cc = F.col(c).cast("double")
            cc = F.when(~F.isnan(cc), cc)
            aggs += [
                F.avg(cc).alias(f"__mean_{c}"),
                F.stddev_samp(cc).alias(f"__std_{c}"),
                F.min(cc).alias(f"__min_{c}"),
                F.max(cc).alias(f"__max_{c}"),
            ]
        one = src.agg(*aggs)
        stack_args = []
        for i, c in enumerate(num_cols):
            stack_args.append(str(i))
            stack_args += [
                _bq(f"__{s}_{c}") for s in ("mean", "std", "min", "max")
            ]
        moments = one.selectExpr(
            f"stack({len(num_cols)}, {', '.join(stack_args)}) as "
            "(__ci, mean, std, min, max)"
        )
        # the moments stack always yields one row per column (a
        # global agg returns a row even on empty input), so every
        # column gets its (all-null) row with no literal spine join
        null_d = F.lit(None).cast("double")
        piece_cols = [
            f"__{n}_{s}" for n in names for s in ("vlo", "vhi", "frac")
        ]
        m_wide = moments.select(
            "__ci", "mean", "std", "min", "max",
            *[null_d.alias(pc) for pc in piece_cols],
        )
        q_wide = quarts.select(
            "__ci",
            *[null_d.alias(s) for s in ("mean", "std", "min", "max")],
            *[
                F.when(F.col("prob") == p, F.col(f"__{s}")).alias(
                    f"__{n}_{s}"
                )
                for p, n in zip(probs, names)
                for s in ("vlo", "vhi", "frac")
            ],
        )
        merged = m_wide.unionByName(q_wide).groupBy("__ci").agg(
            *[
                F.max(s).alias(s)
                for s in ("mean", "std", "min", "max", *piece_cols)
            ]
        )
        name_arr = F.array(*[F.lit(c) for c in num_cols])
        quart_exprs = [
            (
                F.col(f"__{n}_vlo")
                + F.col(f"__{n}_frac")
                * (F.col(f"__{n}_vhi") - F.col(f"__{n}_vlo"))
            ).alias(n)
            for n in names
        ]
        return self._wrap(
            merged.select(
                F.element_at(name_arr, F.col("__ci") + 1).alias(
                    "column_name"
                ),
                "__ci", "mean", "std", "min", *quart_exprs, "max",
            )
            .coalesce(1)
            .sortWithinPartitions("__ci")
            .drop("__ci")
            .select(
                "column_name",
                "mean", "std", "min", "q25", "median", "q75", "max",
            )
        )

    def _summarize_distributed(self, df, num_cols) -> "DataFrame":
        """summarize scale path: bounded-state moments in one agg pass,
        quartiles via the sharded exact-quantile plan, broadcast-joined
        on column_name (both sides are #cols rows)."""
        from .operators.quantiles import exact_quantiles_wide

        aggs = []
        for c in num_cols:
            # NaN skipped to match the small path (quartiles below
            # run over a NaN-cleaned projection for the same reason)
            cc = F.col(c).cast("double")
            cc = F.when(~F.isnan(cc), cc)
            aggs += [
                F.avg(cc).alias(f"__mean_{c}"),
                F.stddev_samp(cc).alias(f"__std_{c}"),
                F.min(cc).alias(f"__min_{c}"),
                F.max(cc).alias(f"__max_{c}"),
            ]
        one = df.agg(*aggs)
        stack_args = []
        for c in num_cols:
            stack_args.append(_q(c))
            stack_args += [
                _bq(f"__{s}_{c}") for s in ("mean", "std", "min", "max")
            ]
        moments = one.selectExpr(
            f"stack({len(num_cols)}, {', '.join(stack_args)}) as "
            "(column_name, mean, std, min, max)"
        )
        # exact_quantiles keeps NaN sorts-high (Spark percentile
        # semantics); summarize's contract is NaN-dropped (matching
        # the small path's np kernel), so feed it a cleaned projection
        cleaned = df.select(
            *[
                F.when(
                    ~F.isnan(F.col(c).cast("double")), F.col(c).cast("double")
                ).alias(c)
                for c in num_cols
            ]
        )
        quarts = exact_quantiles_wide(
            cleaned, num_cols, [0.25, 0.5, 0.75], names=["q25", "median", "q75"]
        )
        return self._wrap(
            moments.join(F.broadcast(quarts), "column_name").select(
                "column_name", "mean", "std", "min", "q25", "median", "q75", "max"
            )
        )

    def histogram(self, col: str, bins: int = 10) -> "DataFrame":
        """Display/Terminal/Plot.hs analogue — equi-width bucket
        counts via a broadcast min/max one-row plan (two passes, both
        distributed). Null and NaN values are excluded up front like
        every other stat verb — they would otherwise land silently
        in bucket 0 (null raw guard) / bucket bins-1 (NaN sorts
        greatest through least()) and skew the counts (review r5)."""
        v = _c(col).cast("double")
        src = self.df.where(v.isNotNull() & ~F.isnan(v))
        rng = src.agg(
            F.min(_c(col)).cast("double").alias("__lo"),
            F.max(_c(col)).cast("double").alias("__hi"),
        )
        # nullif guards width == 0 (constant / single-value column):
        # the division then yields null and every row coalesces into
        # bucket 0 — and stays ANSI-safe (null divisor, not zero)
        width = F.nullif((F.col("__hi") - F.col("__lo")) / bins, F.lit(0.0))
        raw = F.floor((_c(col).cast("double") - F.col("__lo")) / width)
        # when, not least/coalesce: F.least SKIPS nulls, so a null raw
        # bucket would silently become bins-1
        bucket = (
            F.when(raw.isNull(), 0)
            .otherwise(F.least(raw, F.lit(bins - 1)))
            .cast("int")
        )
        return self._wrap(
            src.crossJoin(F.broadcast(rng))
            .withColumn("bucket", bucket)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("count"))
            .orderBy("bucket")
        )

    # -- joins (Operations/Join.hs) ------------------------------------

    def _join(self, other: "DataFrame", on: Sequence[str], how: str, broadcast: bool) -> "DataFrame":
        right = other.df
        dup = (set(self.df.columns) & set(right.columns)) - set(on)
        for c in dup:
            right = right.withColumnRenamed(c, f"{c}_right")
        if broadcast:
            right = F.broadcast(right)
        return self._wrap(self.df.join(right, on=list(on), how=how))

    def inner_join(self, on: Sequence[str], other: "DataFrame", broadcast: bool = False) -> "DataFrame":
        """Join.hs:66 ``innerJoin`` (leftJoin :169, rightJoin :245,
        fullOuterJoin :249) — shuffled hash join on keys; pass
        ``broadcast=True`` for small dims (or let AQE decide)."""
        return self._join(other, on, "inner", broadcast)

    def left_join(self, on: Sequence[str], other: "DataFrame", broadcast: bool = False) -> "DataFrame":
        return self._join(other, on, "left", broadcast)

    def right_join(self, on: Sequence[str], other: "DataFrame", broadcast: bool = False) -> "DataFrame":
        return self._join(other, on, "right", broadcast)

    def full_outer_join(self, on: Sequence[str], other: "DataFrame") -> "DataFrame":
        return self._join(other, on, "outer", False)

    def semi_join(self, on: Sequence[str], other: "DataFrame", broadcast: bool = False) -> "DataFrame":
        """Keep rows with a match in ``other``; the right side is a
        pure filter (never widens the row), so Spark ships only its
        join keys — at scale this is the cheap way to express
        EXISTS-style subqueries (a broadcast semi join is map-only)."""
        return self._join(other, on, "left_semi", broadcast)

    def anti_join(self, on: Sequence[str], other: "DataFrame", broadcast: bool = False) -> "DataFrame":
        """Keep rows with NO match in ``other`` (NOT EXISTS)."""
        return self._join(other, on, "left_anti", broadcast)

    # -- merge (Operations/Merge.hs) -----------------------------------

    def concat(self, other: "DataFrame") -> "DataFrame":
        """Merge.hs vertical merge — union by name, null-filling
        missing columns on either side."""
        return self._wrap(
            self.df.unionByName(other.df, allowMissingColumns=True)
        )

    def hcat(
        self,
        other: "DataFrame",
        order_by: Sequence[str],
        other_order_by: Sequence[str] | None = None,
    ) -> "DataFrame":
        """Merge.hs:59 ``(|||)`` — glue two frames side by side BY
        POSITION. Spark frames carry no row order, so position is
        defined by the explicit per-side orders (``other_order_by``
        defaults to ``order_by``) — each side's keys must be UNIQUE:
        ties are broken engine-arbitrarily, so duplicate keys pair
        rows nondeterministically run to run (same hazard class
        take_last rejects; uniqueness is not validated here because
        checking costs a count job per call — callers own the key
        contract). Length mismatch null-fills the
        shorter side (reference expandColumn semantics); a column of
        ``other`` that exists in ``self`` replaces it in place
        (reference insertColumn semantics).

        Plan: with_row_index on each side (two parallel range-
        partitioned passes, no single-partition stage) + one
        full-outer equi-join on the index — the join keys are dense
        integers, so the shuffle is balanced by construction."""
        left_cols = list(order_by)
        right_cols = list(other_order_by) if other_order_by else list(order_by)
        for c in left_cols:
            if c not in self.df.columns:
                raise ColumnNotFoundError(c, self.df.columns)
        for c in right_cols:
            if c not in other.df.columns:
                raise ColumnNotFoundError(c, other.df.columns)
        idx = "__hcat_idx"
        a = self.with_row_index(left_cols, idx).df
        b = other.with_row_index(right_cols, idx).df
        joined = a.join(b, idx, "outer")
        out_cols = []
        for c in self.df.columns:
            # duplicate name: other's column wins (insertColumn replace)
            src = b if c in other.df.columns else a
            out_cols.append(src[c].alias(c))
        out_cols += [b[c].alias(c) for c in other.df.columns if c not in self.df.columns]
        return self._wrap(joined.select(*out_cols))

    def intersect(self, other: "DataFrame") -> "DataFrame":
        """Set intersection (distinct rows in both) — one shuffle on
        the full row as key, same cost shape as distinct."""
        return self._wrap(self.df.intersect(other.df))

    def except_rows(self, other: "DataFrame") -> "DataFrame":
        """Set difference (distinct rows of self not in other)."""
        return self._wrap(self.df.subtract(other.df))


class GroupedDataFrame:
    """Aggregation.hs:45 ``groupBy`` / :262 ``aggregate`` — a deferred groupBy.

    ``aggregate`` compiles to Spark hash aggregation with map-side
    partial aggregation (one shuffle on the group keys)."""

    def __init__(self, df: SparkDF, keys: list[str]):
        self.df = df
        self.keys = keys

    def aggregate(self, **named: Column) -> DataFrame:
        return DataFrame(
            self.df.groupBy(*self.keys).agg(
                *[e.alias(n) for n, e in named.items()]
            )
        )

    def quantiles(
        self,
        value_col: str,
        probs: Sequence[float],
    ) -> DataFrame:
        """Per-group EXACT interpolated quantiles.

        Strategy is picked from the plan-size estimate (the gate of
        ``summarize``, ``grouped_quantiles_for``): inputs within
        QUANTILE_BUFFER_MAX_BYTES use the built-in ``percentile``
        aggregate (one buffer per group — one hash-agg stage, ~10x
        cheaper when the buffer is known small); larger inputs use
        the sharded radix-bin plan (operators/quantiles.py), which is
        scale-safe where the buffer would hold a huge group's full
        value multiset on one reducer. Both paths emit identical
        (keys..., prob, value) rows."""
        from .operators.quantiles import grouped_quantiles_for

        return DataFrame(
            grouped_quantiles_for(self.df)(self.df, self.keys, value_col, probs)
        )

    def apply_in_pandas(self, fn, schema) -> DataFrame:
        """Escape hatch for per-group imperative logic (Arrow-batched
        grouped-map, the Spark-native analogue of the reference's
        vector-of-vectors group representation). Pre-partitioned at
        kernel width: AQE coalesces the exchange by bytes, but the
        stage cost is per-GROUP Python overhead AQE can't see (the
        q_holt lesson, r7)."""
        from .operators.window import _kernel_width

        return DataFrame(
            _kernel_width(self.df, self.keys)
            .groupBy(*self.keys)
            .applyInPandas(fn, schema)
        )


def row_value(col, row):
    """Typed row accessor mirroring the reference's ``rowValue``
    (Internal/Row.hs:162; DataFrame.hs export): given a COLUMN
    REFERENCE and one row (a :meth:`DataFrame.to_row_list` dict or a
    pyspark ``Row``), return the value, or ``None`` when the column
    is absent or null — the reference's ``Maybe``. Like the
    reference, anything other than a plain column reference raises."""
    if isinstance(col, Column):
        # accept only a bare attribute reference, per the reference's
        # "Can only get rowValue of column reference"
        import re

        m = re.fullmatch(r"Column<'(.+)'>", str(col))
        name = m.group(1) if m else None
        if name is None or not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_ ]*", name):
            raise ValueError("row_value: only plain column references allowed")
    elif isinstance(col, str):
        name = col
    else:
        raise ValueError("row_value: only plain column references allowed")
    try:
        return row[name]
    except (KeyError, ValueError):
        return None
