"""Relational query surface (SURVEY.md §2.3 J1-J7, §2.4 A1-A5, §2.5).

The reference hand-rolls these with Python dicts (assay.py:41-50) or
delegates them to Google's FHIR search engine (README.md:97-105). Here
each is the idiomatic Spark shape; Catalyst/AQE picks broadcast vs
shuffle join, does partial aggregation, and prunes scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# ------------------------------------------------------------------ A* --

def accurate_count(df: DataFrame) -> DataFrame:
    """A3: `?_total=accurate&_count=0` (README.md:101-103) — count without
    returning rows; over Parquet this is a footer-metadata count."""
    return df.agg(F.count(F.lit(1)).alias("cnt"))


def counts_by(df: DataFrame, *cols: str) -> DataFrame:
    """A4: per-type resource counts (graph-view node labels)."""
    return df.groupBy(*cols).agg(F.count(F.lit(1)).alias("cnt"))


def distinct_set(df: DataFrame, *cols: str) -> DataFrame:
    """A2: `set()` accumulation (assay.py:56,75)."""
    return df.select(*cols).distinct()


# ------------------------------------------------------------------ J* --

def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """J5: keep left rows with ≥1 match (assay.py:58-75 shape)."""
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """J4: drop left rows with a match (assay.py:89)."""
    return left.join(right, on, "left_anti")


def broadcast_lookup(fact: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """J1: hash-probe a small dimension (assay.py:41-42) — explicit
    broadcast so the 100 TB fact side never shuffles."""
    return fact.join(F.broadcast(dim), on, how)


def latest_per_key(df: DataFrame, key: str, order_col: str, tiebreak: str) -> DataFrame:
    """§2.5 window shape: latest row per key; deterministic tie-break.
    (Pins the reference's nondeterministic last-wins, assay.py:63-69.)"""
    w = Window.partitionBy(key).orderBy(F.col(order_col).desc(), F.col(tiebreak).desc())
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def salted_join(
    skewed: DataFrame,
    dim: DataFrame,
    skewed_key: str,
    dim_key: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi-join: the skewed side gets a deterministic
    salt from a hash of its full row identity; the other side is
    replicated ``salt`` ways. A hot key's rows then spread over ``salt``
    reducers instead of one. (AQE's skew-join split handles most cases;
    this is the explicit tool for pathological keys or non-AQE sinks.)

    The replicated side multiplies by ``salt`` — use only when it is the
    small side.
    """
    left = skewed.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(salt))
    )
    right = dim.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    out = left.join(
        right,
        (left[skewed_key] == right[dim_key]) & (left["_salt"] == right["_salt"].cast("bigint")),
        how,
    )
    return out.drop("_salt")


def keyset_page(df: DataFrame, key, after, page_size: int) -> DataFrame:
    """§2.5 pagination: keyset (`WHERE key > last ORDER BY key LIMIT n`) —
    O(page) per page instead of O(offset) for deep pages.

    ``key`` may be a single column name or a list of names (ascending,
    lexicographic); ``after`` is then a tuple aligned with ``key``. For a
    NON-unique sort key the caller MUST include a unique tie-break column
    (e.g. ``["date", "id"]``) — a strict bound on a single non-unique key
    silently drops rows that share the boundary value with the last row
    of the previous page. The composite bound is the row-value comparison
    ``k1 > a1 OR (k1 = a1 AND k2 > a2) OR …`` — still a sargable range
    predicate Catalyst pushes into the scan.

    NULL key values are paged through, not dropped: the sort is
    ascending (Spark asc = NULLs FIRST), so a ``None`` in ``after``
    means "past the NULL block on this key" (``isNotNull`` term) and
    the equality chain uses ``eqNullSafe`` so NULL-keyed rows keep
    advancing on the later (tie-break) keys.
    """
    keys = [key] if isinstance(key, str) else list(key)
    out = df
    if after is not None:
        bounds = [after] if isinstance(key, str) else list(after)
        if len(bounds) != len(keys):
            raise ValueError("`after` must supply one bound per key column")
        pred = None
        eqs = None
        for k, b in zip(keys, bounds):
            c = F.col(k)
            if b is None:
                term = c.isNotNull()
                eq = c.isNull()
            else:
                term = c > F.lit(b)
                eq = c.eqNullSafe(F.lit(b))
            if eqs is not None:
                term = eqs & term
            pred = term if pred is None else pred | term
            eqs = eq if eqs is None else eqs & eq
        out = out.filter(pred)
    return out.orderBy(*[F.col(k).asc() for k in keys]).limit(page_size)


def pivot_counts(
    df: DataFrame, row_col: str, pivot_col: str, values: list[str],
    aliases: list[str] | None = None,
) -> DataFrame:
    """Cross-tab: one row per ``row_col`` value, one count column per
    pivot value. ``values`` is explicit (never inferred) — at 100 TB an
    inferred pivot needs an extra distinct pass AND makes the output
    schema data-dependent; a declared list keeps the plan one
    aggregation with map-side combine."""
    out = df.groupBy(row_col).pivot(pivot_col, values).count()
    names = aliases or values
    return out.select(
        F.col(row_col),
        *[
            F.coalesce(F.col(f"`{v}`"), F.lit(0)).cast("bigint").alias(a)
            for v, a in zip(values, names)
        ],
    )


def histogram(
    df: DataFrame, value_col: str, lo: float, hi: float, bins: int
) -> DataFrame:
    """Fixed-range histogram: one hash-aggregate over the bucket index
    (map-side combined — output is ``bins`` rows however big the input).
    Out-of-range values land in underflow (-1) / overflow (``bins``)
    buckets instead of being dropped silently. Output: (bucket, cnt)."""
    if bins < 1 or not hi > lo:
        raise ValueError("need bins >= 1 and hi > lo")
    width = (hi - lo) / bins
    c = F.col(value_col)
    bucket = (
        F.when(c.isNull(), None)
        .when(c < lo, F.lit(-1))
        .when(c >= hi, F.lit(bins))
        .otherwise(F.floor((c - lo) / width))
    )
    return (
        df.select(bucket.cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def equi_depth_histogram(df: DataFrame, value_col: str, bins: int = 10) -> DataFrame:
    """Equi-depth (quantile) histogram: bin edges are the EXACT
    ``i/bins`` percentiles, so each bin holds ≈ n/bins rows — the
    binning an optimizer's column statistics and drift monitors use
    (fixed-range ``histogram`` starves when the data is skewed; this
    one adapts). A value equal to an edge goes to the LOWER bin
    (strict ``v > edge`` counting). Output: (bin, cnt).

    Shape at scale: one exact-percentile aggregate (single-row result,
    broadcast back via crossJoin), then the same one hash-aggregate as
    the fixed histogram — the bin index is ``size(filter(edges, e →
    v > e))``, a narrow array expression, not a join."""
    if bins < 2:
        raise ValueError("need bins >= 2")
    ps = ", ".join(str(i / bins) for i in range(1, bins))
    edges = df.agg(
        F.expr(f"percentile({value_col}, array({ps}))").alias("_edges")
    )
    c = F.col(value_col)
    bin_idx = F.when(
        c.isNull(), None
    ).otherwise(F.size(F.filter(F.col("_edges"), lambda e: c > e)))
    return (
        df.crossJoin(F.broadcast(edges))
        .select(bin_idx.cast("int").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def profile_table(
    df: DataFrame, columns: list[str] | None = None, exact: bool = False
) -> DataFrame:
    """Column-level profile in ONE pass over the data: per column the
    row count, null count, distinct count, and min/max (typed compare,
    string-rendered). Long format: (column, n_rows, n_nulls, n_distinct,
    min_str, max_str).

    ``exact=False`` (the 100 TB default) uses HLL++
    ``approx_count_distinct`` — all metrics then fold into a single
    map-side-combined aggregation, one shuffle of one row per partition.
    ``exact=True`` switches to true COUNT(DISTINCT) per column, which
    Catalyst plans via Expand (row multiplication by #columns) — the
    oracle-verifiable mode; use on samples at scale. The stack() melt at
    the end reshapes the single agg row without touching the data again.
    """
    cols = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        ndv = F.count_distinct(F.col(c)) if exact else F.approx_count_distinct(c)
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            ndv.cast("long").alias(f"{c}__ndv"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    row = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `{c}__nulls`, `{c}__ndv`, `{c}__min`, `{c}__max`" for c in cols
    )
    return row.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS"
            " (column, n_nulls, n_distinct, min_str, max_str)"
        ),
        F.col("n_rows"),
    ).select("column", "n_rows", "n_nulls", "n_distinct", "min_str", "max_str")


# ------------------------------------------- incremental view maintenance --

MERGEABLE_AGGS = ("sum", "count", "min", "max")


def agg_state(df: DataFrame, key_cols: list[str], specs: dict[str, str]) -> DataFrame:
    """Build mergeable aggregate state per key: for each ``col: agg`` in
    ``specs`` (sum/count/min/max — the decomposable aggregates; avg is
    finalized from sum+count), emit a ``<col>_<agg>`` column. The state
    is a partial in the algebraic-aggregate sense: states from disjoint
    batches merge into the state of the union (see ``merge_agg_state``),
    which is what makes a materialized aggregate incrementally
    maintainable instead of recomputed from 100 TB on every append."""
    aggs = []
    for col, how in _spec_pairs(specs):
        fn = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}[how]
        src = F.lit(1) if how == "count" else F.col(col)
        out = fn(src)
        if how == "count":
            out = out.cast("bigint")
        aggs.append(out.alias(f"{col}_{how}"))
    return df.groupBy(*key_cols).agg(*aggs)


def _spec_pairs(specs: dict[str, str | list[str]]) -> list[tuple[str, str]]:
    """Flatten ``{col: agg}`` / ``{col: [aggs]}`` into (col, agg) pairs,
    validating mergeability (avg is NOT here: finalize it from
    sum+count with ``finalize_avg``)."""
    pairs: list[tuple[str, str]] = []
    for col, hows in specs.items():
        for how in [hows] if isinstance(hows, str) else hows:
            if how not in MERGEABLE_AGGS:
                raise ValueError(
                    f"agg {how!r} on {col!r} is not mergeable; use {MERGEABLE_AGGS}"
                )
            pairs.append((col, how))
    return pairs


def merge_agg_state(
    state: DataFrame, delta_state: DataFrame, key_cols: list[str], specs: dict[str, str]
) -> DataFrame:
    """Merge two aggregate states (same ``specs``): union ∪ one keyed
    re-aggregate, where each partial column re-aggregates under its own
    merge function (sum+sum, count+count→sum, min/min, max/max).

    Scale shape: the ONLY shuffle is keyed by ``key_cols`` over
    |state keys| + |delta keys| rows — independent of the fact volume
    that produced them. With the state stored bucketed by key (see
    sources/store.py) the merge is co-partitioned and shuffle-free;
    this is the classic incremental-MV contract: append cost ∝ delta,
    never ∝ history."""
    merged = state.unionByName(delta_state)
    aggs = []
    for col, how in _spec_pairs(specs):
        c = f"{col}_{how}"
        merge_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}[how]
        out = merge_fn(F.col(c))
        if how == "count":
            out = out.cast("bigint")
        aggs.append(out.alias(c))
    return merged.groupBy(*key_cols).agg(*aggs)


def finalize_avg(state: DataFrame, col: str, out_col: str | None = None) -> DataFrame:
    """Derive avg from (sum, count) state columns — the non-mergeable
    aggregate finalized at read time."""
    return state.withColumn(
        out_col or f"{col}_avg", F.col(f"{col}_sum") / F.col(f"{col}_count")
    )
