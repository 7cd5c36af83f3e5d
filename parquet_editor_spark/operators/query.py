"""Query operators: pivot, group-by aggregation, filter/sort/limit,
joins, set ops, windows, binning.

The reference's ONE aggregation shape is ``pd.pivot_table`` with
aggfunc ∈ {mean,sum,count,max,min} (main.pyc:158-174, combo box
main.pyc:137); readme.md:9 additionally claims generic "group-based
operations". Everything here is declarative DataFrame API so Catalyst
plans partial/final aggregation, broadcast-vs-SMJ joins, pushdown and
pruning without any engine-side scheduling.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ColumnOrName = Union[str, Column]

#: aggfunc whitelist — the reference's five (main.pyc:137) plus the
#: zero-cost parity-plus set (SURVEY.md §2.4).
def _mean_exact_cents(col: ColumnOrName) -> Column:
    """Mean over exact integer cents for ≤2-decimal data: the integer
    sum is associative, so the pre-round double is bit-identical under
    any partial-aggregation order (a plain double avg is last-ulp
    order-sensitive and flips round-half ties across engines).

    PRECONDITION: input values carry at most 2 decimal places.  The
    round-to-cents quantization is part of the semantics — on data
    with more precision this returns a materially different mean than
    ``'mean'``; pick ``'mean'`` there instead."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.round(c * 100, 0).cast("long")) / (100.0 * F.count(c))


AGG_FUNCS = {
    "mean": F.avg,
    "avg": F.avg,
    "mean_exact_cents": _mean_exact_cents,
    "sum": F.sum,
    "count": F.count,
    "max": F.max,
    "min": F.min,
    "count_distinct": F.count_distinct,
    "approx_count_distinct": F.approx_count_distinct,
    "stddev": F.stddev,
    # skips nulls like pandas' first (and Spark's own pivot, which
    # rewrites first() so); a when-guarded pivot depends on it
    "first": lambda c: F.first(c, ignorenulls=True),
}


def agg_fn(name: str):
    try:
        return AGG_FUNCS[name]
    except KeyError:
        raise ValueError(
            f"unsupported aggfunc {name!r}; expected one of {sorted(AGG_FUNCS)}"
        ) from None


def pivot_table(
    df: DataFrame,
    index: str,
    columns: str,
    values: str,
    aggfunc: str = "mean",
    pivot_values: Optional[Sequence] = None,
    round_to: Optional[int] = None,
) -> DataFrame:
    """``pd.pivot_table`` semantics on Spark (main.pyc:158-174).

    Matches the pandas edge cases encoded in SURVEY.md §7(c):

    * NaN/null group keys are DROPPED (pandas ``dropna=True`` default)
      — Spark's groupBy keeps a null group, so we filter both keys;
    * ``count`` counts non-null *values* only (``F.count(col)`` agrees);
    * output pivot columns are the sorted distinct values of
      ``columns`` (Spark sorts them too), index rows sorted.

    Scale: plans as scan → partial agg → shuffle on ``index`` → final
    agg. Pass ``pivot_values`` when known to skip the extra distinct
    job — at 100 TB the distinct-values pre-pass is a full scan worth
    skipping; pivot keys must be low-cardinality regardless.

    With ``pivot_values`` the aggregates are when-guarded, so every
    non-matching row feeds them a null; they all skip nulls (``first``
    too, see ``AGG_FUNCS``).  There ``count``/``count_distinct`` give
    0, not null, for an absent (index, column) pair — the value the
    ``pivot_count`` and ``pivot_count_distinct`` oracles pin.
    """
    fn = agg_fn(aggfunc)
    filtered = df.filter(F.col(index).isNotNull() & F.col(columns).isNotNull())
    if pivot_values:
        # known pivot domain → plan as plain when-guarded aggregates:
        # one partial+final agg pass, no pivot operator overhead and no
        # distinct-values job (measured ~2× faster than groupBy.pivot)
        aggs = [
            fn(F.when(F.col(columns) == v, F.col(values))).alias(str(v))
            for v in pivot_values
        ]
        out = filtered.groupBy(index).agg(*aggs)
    else:
        out = filtered.groupBy(index).pivot(columns).agg(fn(values))
    # pivot output is index-cardinality-sized (small by construction);
    # a single-partition local sort gives the pandas-ordered result
    # without orderBy's range-sampling job + exchange
    out = out.coalesce(1).sortWithinPartitions(index)
    if round_to is not None:
        out = out.select(
            index,
            # backtick-quote: a pivot value like 1.5 becomes a column
            # literally named "1.5", which bare F.col parses as a
            # nested-field access
            *[
                F.round(F.col(f"`{c}`"), round_to).alias(c)
                for c in out.columns
                if c != index
            ],
        )
    return out


def group_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: Sequence[tuple[str, str, str]],
) -> DataFrame:
    """Generic group-by aggregation (readme.md:9 "group-based
    operations", never coded in the reference — SURVEY.md §2.4).

    ``aggs`` is ``[(column, aggfunc, alias), ...]``; aliases are
    mandatory so results hash-compare against SQL oracles.
    """
    exprs = [agg_fn(fn)(col).alias(alias) for col, fn, alias in aggs]
    return df.groupBy(*keys).agg(*exprs)


def filter_rows(df: DataFrame, predicate: ColumnOrName) -> DataFrame:
    """Predicate filter — declared as an expression so Catalyst pushes
    it into the parquet scan (check: ``PushedFilters`` in explain)."""
    return df.filter(predicate)


def sort_rows(
    df: DataFrame, by: Sequence[ColumnOrName], ascending: Union[bool, Sequence[bool]] = True
) -> DataFrame:
    if isinstance(ascending, bool):
        ascending = [ascending] * len(by)
    cols = [
        (F.col(c) if isinstance(c, str) else c).asc() if asc else (F.col(c) if isinstance(c, str) else c).desc()
        for c, asc in zip(by, ascending)
    ]
    return df.orderBy(*cols)


def top_k(
    df: DataFrame, by: Sequence[ColumnOrName], k: int, ascending: Union[bool, Sequence[bool]] = False
) -> DataFrame:
    """orderBy().limit(k) — Spark plans TakeOrderedAndProject: each
    partition keeps only its top k, then the driver merges k·P rows.
    No global sort; survives any table size for small k."""
    return sort_rows(df, by, ascending).limit(k)


def join_tables(
    left: DataFrame,
    right: DataFrame,
    on,
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """Join with optional explicit broadcast of the small side.

    AQE usually picks broadcast automatically under the threshold, but
    dimension tables we KNOW are small (region: 5 rows, nation: 25 —
    FIXTURES.md) are hinted explicitly so the plan is broadcast even
    when size estimates are stale at the 100 TB design point."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on, how)


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """EXISTS — returns left rows with a match; no right columns, no
    row multiplication (safe for dedup-style filtering)."""
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """NOT EXISTS — left rows without a match."""
    return left.join(right, on, "left_anti")


def union_tables(a: DataFrame, b: DataFrame, distinct: bool = False) -> DataFrame:
    out = a.unionByName(b)
    return out.distinct() if distinct else out


def intersect_tables(a: DataFrame, b: DataFrame) -> DataFrame:
    """Distinct set intersection (ANSI INTERSECT). Catalyst plans this
    as an aggregate + join on all columns — no driver-side work."""
    return a.intersect(b)


def except_tables(a: DataFrame, b: DataFrame, keep_duplicates: bool = False) -> DataFrame:
    """Set difference: ANSI EXCEPT (distinct) by default, EXCEPT ALL
    (multiset, preserves multiplicity) with ``keep_duplicates``."""
    return a.exceptAll(b) if keep_duplicates else a.subtract(b)


# ---------------------------------------------------------------------------
# null handling / value cleaning (pandas fillna/dropna/replace parity)
# ---------------------------------------------------------------------------

def fill_nulls(df: DataFrame, values: dict) -> DataFrame:
    """Per-column null fill (``df.na.fill``) — one projection, no
    shuffle; Catalyst folds it into adjacent projects."""
    return df.na.fill(values)


def drop_nulls(
    df: DataFrame, subset: Optional[Sequence[str]] = None, how: str = "any"
) -> DataFrame:
    """Drop rows with nulls in ``subset`` (or anywhere).

    ``how="any"`` is emitted as a conjunction of ``IsNotNull``
    predicates rather than ``na.drop`` — the latter compiles to
    ``AtLeastNNonNulls``, which parquet scans can NOT push down; the
    conjunction reaches ``PushedFilters`` (asserted in
    tests/test_plans.py)."""
    if how == "any":
        cols = list(subset) if subset else df.columns
        pred = F.lit(True)
        for c in cols:
            pred = pred & F.col(c).isNotNull()
        return df.filter(pred)
    return df.na.drop(how=how, subset=list(subset) if subset else None)


def replace_values(df: DataFrame, mapping: dict, subset: Optional[Sequence[str]] = None) -> DataFrame:
    """Exact-value replacement (``df.na.replace``): the categorical
    recode step of a cleaning pipeline."""
    return df.na.replace(mapping, subset=list(subset) if subset else None)


def numeric_columns(df: DataFrame) -> list[str]:
    """``df.select_dtypes(include=[np.number])`` analog
    (main.pyc:405-406) — schema-only, no data touched."""
    numeric = {"tinyint", "smallint", "int", "bigint", "float", "double", "decimal"}
    return [c for c, t in df.dtypes if t.split("(")[0] in numeric]


def select_numeric(df: DataFrame) -> DataFrame:
    cols = numeric_columns(df)
    if not cols:
        raise ValueError("no numeric columns to plot")  # main.pyc:405-416 guard
    return df.select(*cols)


def histogram(df: DataFrame, column: str, bin_width: float) -> DataFrame:
    """Server-side histogram (plot-feeding, main.pyc:381): bin counts
    computed distributively; only #bins rows ever reach the client."""
    return (
        df.filter(F.col(column).isNotNull())
        .groupBy(F.floor(F.col(column) / F.lit(bin_width)).alias("bin"))
        .agg(F.count("*").alias("n"))
        .withColumn("bin_start", F.col("bin") * F.lit(bin_width))
        .select("bin", "bin_start", "n")
        .orderBy("bin")
    )


def bin2d(df: DataFrame, x: str, y: str, dx: float, dy: float) -> DataFrame:
    """2-D density binning — the scale-safe scatter plot
    (main.pyc:375-379): a billion points reduce to a grid."""
    return (
        df.filter(F.col(x).isNotNull() & F.col(y).isNotNull())
        .groupBy(
            F.floor(F.col(x) / F.lit(dx)).alias("xbin"),
            F.floor(F.col(y) / F.lit(dy)).alias("ybin"),
        )
        .agg(F.count("*").alias("n"))
        .orderBy("xbin", "ybin")
    )


def stratified_sample(
    df: DataFrame, strata_col: str, fractions: dict, seed: int = 42
) -> DataFrame:
    """Per-stratum Bernoulli sampling (``sampleBy``) — the
    training-data mixing primitive: downweight overrepresented
    sources/languages without a shuffle. Seeded for reproducibility
    within a fixed partitioning; exact proportions are statistical,
    not guaranteed (tests assert tolerance bands)."""
    return df.sampleBy(strata_col, fractions, seed)


def hash_split(
    df: DataFrame,
    id_col: str,
    out: str = "split",
    train: float = 0.8,
    val: float = 0.1,
    method: str = "xxhash64",
    seed: int = 40503,
) -> DataFrame:
    """Deterministic train/val/test assignment from a stable id — the
    split must survive reprocessing and joins across pipeline runs, so
    it is a pure function of the id, never a random draw. No shuffle:
    one projection, fully parallel.

    ``method="xxhash64"`` is the production path (JVM hash, uniform on
    arbitrary types). ``method="portable"`` is a Knuth multiplicative
    hash on the id reproduced digit-for-digit in the ANSI-SQL oracle;
    the inner ``% 1000003`` keeps the multiply inside int64 under ANSI
    overflow checking (bucket balance is unaffected for any corpus —
    residues map uniformly)."""
    if method == "xxhash64":
        bucket = F.pmod(F.xxhash64(F.col(id_col)), F.lit(100))
    elif method == "portable":
        from parquet_editor_spark.functions.hashing import portable_bucket

        bucket = portable_bucket(id_col, seed, 100)
    else:
        raise ValueError(f"unknown hash_split method: {method}")
    # round, don't truncate: int(0.58*100) == 57 shifts the boundary
    t_hi, v_hi = int(round(train * 100)), int(round((train + val) * 100))
    return df.withColumn(
        out,
        F.when(bucket < t_hi, F.lit("train"))
        .when(bucket < v_hi, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-busting equi-join: a hot key that lands 10% of a 100 TB
    fact table in one task stalls the stage. Salting splits every left
    key into ``n_salts`` deterministic sub-keys (hash of the whole row)
    and replicates the right side once per salt, so the hot key's rows
    spread over ``n_salts`` tasks. Result is row-identical to the
    plain join; cost is ×n_salts on the (smaller) right side. AQE's
    skew-join handles moderate skew automatically — reach for this
    when a single key exceeds what one executor can hold.

    Supported ``how``: inner / left / left_outer — the shapes where
    replicating the right side is row-neutral.  right/full outer are
    refused: an unmatched right key survives once per salt copy, so
    the result would multiply those rows ×n_salts (silently breaking
    the row-identical contract); de-salt the right side with a
    post-aggregation or use the plain join + AQE skew handling there.
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(
            f"salted_join supports inner/left joins, not {how!r}: "
            "unmatched right rows would be duplicated once per salt"
        )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    l = left.withColumn("__salt", salt)
    r = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast("bigint"))
    out = l.join(r, [key, "__salt"], how)
    return out.drop("__salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: Optional[Sequence[str]] = None,
    suffix: str = "_asof",
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    ``right_ts <= left_ts`` in the same ``on`` group (backward
    direction, inclusive — matches DuckDB/pandas asof semantics).

    Spark has no native as-of join (guide: 'Common OLAP patterns');
    the classic scalable plan is the union + last-value window trick:

        tag left/right → union on (key, ts) → per-key window sorted
        by (ts, side) with right rows first at equal ts →
        last(value, ignoreNulls) carries the latest right attributes
        forward → keep left rows.

    ONE shuffle on the key, no UDF, no range explosion — works at any
    size and any time skew, unlike per-group ``pd.merge_asof``
    (memory-bound) or an inequality join (quadratic)."""
    from pyspark.sql import Window as W

    right_cols = list(right_cols or [c for c in right.columns if c not in (on, right_ts)])
    lcols = [c for c in left.columns]

    # the carried right row travels as ONE struct (NULL on left rows):
    # last(struct, ignoreNulls) then selects the most recent right ROW
    # atomically — per-column last() would skip a genuinely-NULL
    # attribute of the matched row and resurrect a STALE value from an
    # older row (and could mix attributes across rows)
    row_struct_type = (
        "struct<"
        + ",".join(
            [f"`{c}`:{right.schema[c].dataType.simpleString()}" for c in right_cols]
            + [f"`__ts`:{right.schema[right_ts].dataType.simpleString()}"]
        )
        + ">"
    )
    l_tagged = left.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.col(c) for c in lcols],
        F.lit(None).cast(row_struct_type).alias("__r_row"),
    )
    r_tagged = right.select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),  # right sorts BEFORE left at equal ts
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        F.struct(
            *[F.col(c) for c in right_cols],
            F.col(right_ts).alias("__ts"),
        ).alias("__r_row"),
    )
    w = (
        W.partitionBy("__k")
        .orderBy("__ts", "__side")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    filled = l_tagged.unionByName(r_tagged).select(
        "*",
        F.last("__r_row", ignorenulls=True).over(w).alias("__f_row"),
    )
    return filled.filter(F.col("__side") == 1).select(
        *lcols,
        *[
            F.col("__f_row")[c].alias(f"{c}{suffix}")
            for c in right_cols
        ],
        F.col("__f_row")["__ts"].alias(f"{right_ts}{suffix}"),
    )


def range_join(
    left: DataFrame,
    val_col: str,
    ranges: DataFrame,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
) -> DataFrame:
    """Join rows to [lo, hi) ranges WITHOUT the quadratic inequality
    join: each range explodes into its covered fixed-width buckets, rows
    bucket by value, the join is an equi-join on bucket + an exact
    residual filter. Cost is |ranges|·(range span / width) index rows
    — broadcastable for any realistic band table."""
    exploded = ranges.withColumn(
        "__b",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / bucket_width),
                F.floor((F.col(hi_col) - 1e-9) / bucket_width),
            )
        ),
    )
    keyed = left.withColumn("__b", F.floor(F.col(val_col) / bucket_width))
    return (
        keyed.join(F.broadcast(exploded), "__b")
        .filter((F.col(val_col) >= F.col(lo_col)) & (F.col(val_col) < F.col(hi_col)))
        .drop("__b")
    )


def unpivot(
    df: DataFrame,
    ids: Sequence[str],
    values: Sequence[str],
    var_name: str = "measure",
    value_name: str = "value",
) -> DataFrame:
    """Wide → long (melt): Spark's native ``unpivot`` — one pass, no
    shuffle, each input row emits len(values) rows executor-side."""
    return df.unpivot(list(ids), list(values), var_name, value_name)


def percentiles(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    probs: Sequence[float] = (0.25, 0.5, 0.75),
    round_to: int = 4,
) -> DataFrame:
    """EXACT interpolated percentiles per group (``percentile``, not
    the t-digest approximation) — matches ANSI/DuckDB quantile_cont
    bit-for-bit, so it oracle-checks; use approx_percentile at the
    100 TB point where an exact sort per group is not worth it."""
    p = F.percentile(F.col(col), F.lit(list(probs)))
    out = df.groupBy(*keys).agg(
        *[
            F.round(F.element_at(p, i + 1), round_to).alias(
                f"p{int(round(q * 100))}"
            )
            for i, q in enumerate(probs)
        ]
    )
    return out


def describe_stats(
    df: DataFrame,
    cols: Sequence[str],
    round_to: int = 4,
    unit_scale: Optional[int] = None,
) -> DataFrame:
    """Per-column summary stats as rows (the editor's column-stats
    panel, SURVEY.md §2.3 'row multiselect metadata' generalized):
    long-form unpivot → one aggregation — a single pass over the data
    regardless of column count.

    ``unit_scale`` (e.g. 100 for cents-exact data) switches mean and
    stddev to exact integer moments: sum(v·scale) and sum((v·scale)²)
    are associative integer sums, so the pre-round doubles are
    bit-identical under any partial-aggregation order — a plain
    double avg/stddev is order-sensitive in its last ulp and flips
    round-half ties across engines/parallelism. The squared sum
    accumulates in DECIMAL(38,0): cents² of big money columns exceeds
    int64 at large scale factors."""
    long = unpivot(df.select(*cols), [], cols, "column_name", "value")
    if unit_scale is None:
        return long.groupBy("column_name").agg(
            F.count("value").alias("n"),
            F.round(F.avg("value"), round_to).alias("mean"),
            F.round(F.stddev("value"), round_to).alias("stddev"),
            F.round(F.min("value"), round_to).alias("min"),
            F.round(F.max("value"), round_to).alias("max"),
        )
    s = float(unit_scale)
    long = long.withColumn(
        "vc", F.round(F.col("value") * unit_scale, 0).cast("long")
    )
    n = F.count("value")
    nn = n.cast("double")
    S = F.sum("vc").cast("double")
    # cast BEFORE multiplying: vc*vc in int64 wraps (or throws under
    # ANSI) past ~3.04e9 cents; decimal(19,0)*long promotes to a wide
    # decimal so the square itself can't overflow
    S2 = F.sum(
        (F.col("vc").cast("decimal(19,0)") * F.col("vc")).cast("decimal(38,0)")
    ).cast("double")
    return long.groupBy("column_name").agg(
        n.alias("n"),
        F.round(S / (s * nn), round_to).alias("mean"),
        F.round(
            F.when(
                n > 1,
                F.sqrt((nn * S2 - S * S) / (nn * (nn - F.lit(1.0)))) / s,
            ),
            round_to,
        ).alias("stddev"),
        F.round(F.min("value"), round_to).alias("min"),
        F.round(F.max("value"), round_to).alias("max"),
    )


def corr_matrix_exact(
    df: DataFrame,
    cols: Sequence[str],
    unit_scale: int = 100,
    round_to: int = 6,
) -> DataFrame:
    """Pairwise Pearson correlation matrix (pandas ``df.corr()`` analog,
    §2.4 parity-plus) in long form ``(x_col, y_col, corr)``.

    All moments (Σx, Σx², Σxy) accumulate as EXACT integers over
    ``value·unit_scale`` quantities (same ≤2-decimal precondition as
    ``mean_exact_cents``), squares/products cast to decimal BEFORE
    multiplying so cents² can't overflow int64; one double formula at
    the edge.  The whole matrix is ONE aggregation pass over the table
    — k columns cost k(k+1)/2 + k running sums in the same partial
    aggregate, not k² scans — followed by a 1-row explode."""
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("need at least two columns")
    c = {
        col: F.round(F.col(col) * unit_scale, 0).cast("long") for col in cols
    }

    def _sq(x, y):
        return F.sum((x.cast("decimal(19,0)") * y).cast("decimal(38,0)"))

    aggs = [F.count("*").alias("n")]
    for col in cols:
        aggs.append(F.sum(c[col]).alias(f"s_{col}"))
        aggs.append(_sq(c[col], c[col]).alias(f"s2_{col}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            aggs.append(_sq(c[a], c[b]).alias(f"sp_{a}_{b}"))
    m = df.agg(*aggs)
    nn = F.col("n").cast("double")
    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            sx = F.col(f"s_{a}").cast("double")
            sy = F.col(f"s_{b}").cast("double")
            sxy = F.col(f"sp_{a}_{b}").cast("double")
            sx2 = F.col(f"s2_{a}").cast("double")
            sy2 = F.col(f"s2_{b}").cast("double")
            # try_divide: a constant column has zero variance; pandas
            # df.corr() yields NaN there — ANSI double division would
            # abort the whole matrix instead
            corr = F.try_divide(
                nn * sxy - sx * sy,
                F.sqrt((nn * sx2 - sx * sx) * (nn * sy2 - sy * sy)),
            )
            pairs.append(
                F.struct(
                    F.lit(a).alias("x_col"),
                    F.lit(b).alias("y_col"),
                    F.round(corr, round_to).alias("corr"),
                )
            )
    return m.select(F.explode(F.array(*pairs)).alias("p")).select("p.*")


def cube_agg(df: DataFrame, keys: Sequence[str], aggs: Sequence[tuple[str, str, str]]) -> DataFrame:
    """CUBE — parity-plus aggregation (SURVEY.md §2.4)."""
    exprs = [agg_fn(fn)(col).alias(alias) for col, fn, alias in aggs]
    return df.cube(*keys).agg(*exprs)


def rollup_agg(df: DataFrame, keys: Sequence[str], aggs: Sequence[tuple[str, str, str]]) -> DataFrame:
    """ROLLUP — parity-plus aggregation (SURVEY.md §2.4)."""
    exprs = [agg_fn(fn)(col).alias(alias) for col, fn, alias in aggs]
    return df.rollup(*keys).agg(*exprs)


def resample_ffill(
    df: DataFrame,
    key: str,
    ts: str,
    value: str,
    unit: str = "day",
    agg: str = "avg",
    round_to: int = 4,
) -> DataFrame:
    """Time-series resampling with gap fill and forward fill: bucket
    observations per ``key`` to ``unit`` granularity (aggregating
    ``value`` with ``agg``), densify each key's own [min, max] bucket
    range, and carry the last observed value across empty buckets
    (``v_fill``; ``v_obs`` stays NULL on gaps so interpolation-style
    consumers can tell filled from observed).

    Scale shape: the dense grid is generated DISTRIBUTED — each key's
    ``sequence(min, max, interval)`` explodes in its own task, never a
    driver-side calendar loop or a cartesian with a calendar table.
    Bucketing aggregates first (so the grid joins against one row per
    key×bucket, not raw events), and the forward-fill window
    partitions on the same key the join just hashed on. Skewed keys
    (one user with years of history) cost one task their row count,
    not a global sort.
    """
    from pyspark.sql.window import Window

    j = _dense_grid(df, key, ts, value, unit, agg, round_to)
    w = (
        Window.partitionBy("key")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "key",
        "bucket",
        F.col("v").alias("v_obs"),
        F.last("v", ignorenulls=True).over(w).alias("v_fill"),
    )


def _dense_grid(
    df: DataFrame,
    key: str,
    ts: str,
    value: str,
    unit: str,
    agg: str,
    round_to: int,
) -> DataFrame:
    """(key, bucket, v) densified over each key's own [min, max]
    bucket range — v NULL on gap buckets. Shared by the fill and
    interpolation resamplers."""
    bucket = F.date_trunc(unit, F.col(ts))
    obs = (
        df.groupBy(F.col(key).alias("key"), bucket.alias("bucket"))
        .agg(F.round(getattr(F, agg)(value), round_to).alias("v"))
    )
    bounds = obs.groupBy("key").agg(
        F.min("bucket").alias("mn"), F.max("bucket").alias("mx")
    )
    grid = bounds.select(
        "key",
        F.explode(
            F.sequence("mn", "mx", F.expr(f"INTERVAL 1 {unit}"))
        ).alias("bucket"),
    )
    return grid.join(obs, ["key", "bucket"], "left")


def resample_interp(
    df: DataFrame,
    key: str,
    ts: str,
    value: str,
    unit: str = "day",
    agg: str = "avg",
    round_to: int = 4,
) -> DataFrame:
    """Time-series resampling with LINEAR interpolation across gaps:
    same dense grid as :func:`resample_ffill`, but an empty bucket
    gets the value linearly interpolated between its nearest observed
    neighbors in time. Every gap is interior by construction (the grid
    spans each key's own observed [min, max]), so both anchors always
    exist.

    The anchors come from two mirror-image windows over the SAME
    partitioning and ordering — last-non-null looking back,
    first-non-null looking forward — so one sort serves all four
    expressions.

    The gap value is computed in integer micro-units (value × 10^4,
    weighted-mean numerator, integer division by the anchor distance)
    rather than double arithmetic: midpoints of decimal observations
    land exactly on round-half ties, where double rounding is
    ulp-sensitive and engines disagree. Integer arithmetic is
    bit-identical everywhere, which is what lets a differential oracle
    hash-match the output.
    """
    from pyspark.sql.window import Window

    j = _dense_grid(df, key, ts, value, unit, agg, round_to)
    wp = (
        Window.partitionBy("key")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("key")
        .orderBy("bucket")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    t = F.unix_timestamp("bucket")
    vm = F.round(F.col("v") * 10000, 0).cast("long")
    obs_t = F.when(F.col("v").isNotNull(), t)
    anch = j.select(
        "key",
        "bucket",
        "v",
        t.alias("__t"),
        F.last(vm, ignorenulls=True).over(wp).alias("__pm"),
        F.last(obs_t, ignorenulls=True).over(wp).alias("__pt"),
        F.first(vm, ignorenulls=True).over(wf).alias("__nm"),
        F.first(obs_t, ignorenulls=True).over(wf).alias("__nt"),
    )
    interp = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        F.expr(
            "(__pm * (__nt - __t) + __nm * (__t - __pt)) div (__nt - __pt)"
        )
        / 10000.0
    )
    return anch.select(
        "key", "bucket", F.col("v").alias("v_obs"), interp.alias("v_interp")
    )


def time_rollup(
    df: DataFrame,
    ts: str,
    value: str,
    grains: Sequence[str] = ("hour", "day", "month"),
    agg: str = "sum",
    round_to: int = 4,
) -> DataFrame:
    """Hypertable-style multi-grain time rollup: one pass produces the
    aggregate at every requested ``grains`` granularity, tagged
    (grain, bucket). GROUPING SETS expands each input row once per
    grain INSIDE the aggregate (partial aggregation still applies), so
    the fact table is scanned once — not once per grain — and no
    self-union re-reads 100 TB three times. Continuous-aggregate
    maintenance falls out of running this over an incremental batch
    and merging by (grain, bucket).
    """
    truncs = [F.date_trunc(g, F.col(ts)).alias(f"__g_{g}") for g in grains]
    names = [f"__g_{g}" for g in grains]
    base = df.select(*truncs, F.col(value).alias("__v"))
    grouped = base.groupingSets([[n] for n in names], *[F.col(n) for n in names])
    grain_expr = None
    for g, n in zip(grains, names):
        cond = F.grouping(n) == 0
        grain_expr = F.when(cond, F.lit(g)) if grain_expr is None else grain_expr.when(cond, F.lit(g))
    # grouping() is only legal inside the aggregate node itself, so the
    # grain tag is computed in agg() and the bucket coalesce after
    return grouped.agg(
        grain_expr.alias("grain"),
        F.round(getattr(F, agg)("__v"), round_to).alias("val"),
        F.count("*").alias("n"),
    ).select(
        "grain",
        F.coalesce(*[F.col(n) for n in names]).alias("bucket"),
        "val",
        "n",
    )


def stratified_sample_hash(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    fractions: dict,
    seed: int = 40503,
) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff a pure hash
    of its id falls under its stratum's per-mille bucket — the
    reproducible sibling of :func:`stratified_sample` (``sampleBy``).
    Where Bernoulli sampling re-draws on every run and engine, this
    assignment is a pure function of (id, seed): it survives
    reprocessing, joins across pipeline runs, and is differential-
    checkable value-for-value. Same multiplicative-hash bucket as
    ``hash_split(method="portable")``.
    """
    from parquet_editor_spark.functions.hashing import portable_bucket

    bucket = portable_bucket(id_col, seed, 1000)
    keep = None
    for stratum, frac in fractions.items():
        cond = (F.col(strata_col) == stratum) & (
            bucket < F.lit(int(round(frac * 1000)))
        )
        keep = cond if keep is None else keep | cond
    return df.filter(keep)


def weighted_sample_k(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    seed: int = 40503,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: exactly
    ``k`` rows with inclusion probability ∝ ``weight_col`` — the
    Efraimidis-Spirakis exponential race (rank by ln(u)/w descending,
    u a uniform per row), with the same engine-portable
    multiplicative id-hash uniform as :func:`stratified_sample_hash`
    in place of an RNG, so the drawn set is a pure function of
    (ids, weights, seed): reproducible across runs, engines and
    repartitioning.  The race key is rounded to 6 decimals before
    ranking (an idle ulp of ln() may differ between libm and the JVM;
    after rounding both engines rank identical doubles) and ties
    break on the id.

    Weights must be strictly positive: a zero weight sorts last
    (ln(u)/0 → -inf, i.e. "never draw"), but a NEGATIVE weight flips
    the race key's sign and would sort first — pass magnitudes, not
    signed scores.

    Scale: orderBy+limit plans as TakeOrderedAndProject — each task
    forwards its local top-k, only k·P rows reach the driver-side
    merge; no global sort, no shuffle of the losers."""
    from parquet_editor_spark.functions.hashing import portable_bucket

    bucket = portable_bucket(id_col, seed, 1000)
    u = (bucket + F.lit(0.5)) / F.lit(1000.0)
    # try_divide: weight 0 must mean "never draw" (NULL key sorts last
    # under desc in both engines), not an ANSI DIVIDE_BY_ZERO abort
    key = F.round(F.try_divide(F.log(u), F.col(weight_col)), 6)
    return (
        df.withColumn("__race", key)
        .orderBy(F.col("__race").desc(), F.col(id_col).asc())
        .limit(k)
        .drop("__race")
    )


def funnel(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    first_event: str,
    then_event: str,
    within: str = "7 days",
) -> DataFrame:
    """Two-stage conversion funnel: users whose FIRST ``first_event``
    is followed by at least one ``then_event`` within ``within`` —
    sequence analytics the reference's single-table editor cannot
    express (SURVEY.md §2.6 absence list; batch sibling of the
    stream-stream ``followed_by`` join, streaming/stream.py).

    Scale shape: the first-stage relation collapses to ONE row per
    user (min over a hash agg) before any join; the conversion test is
    a left join on user keys — both sides shuffle once on the user
    key, and the per-user row counts are bounded by that user's
    second-stage events, never the corpus.  Outputs are engine-exact
    integers plus one deterministic double division.
    """
    firsts = (
        df.filter(F.col(type_col) == first_event)
        .groupBy(F.col(user_col).alias("u"))
        .agg(F.min(ts_col).alias("t0"))
    )
    nxt = df.filter(F.col(type_col) == then_event).select(
        F.col(user_col).alias("u"), F.col(ts_col).alias("t1")
    )
    hit = (F.col("t1") > F.col("t0")) & (
        F.col("t1") <= F.col("t0") + F.expr(f"INTERVAL {within}")
    )
    per_user = (
        firsts.join(nxt, "u", "left")
        .groupBy("u")
        .agg(F.max(F.when(hit, 1).otherwise(0)).alias("conv"))
    )
    return per_user.agg(
        F.count("*").cast("long").alias("n_entered"),
        F.sum("conv").cast("long").alias("n_converted"),
        F.round(
            100.0 * F.sum("conv") / F.count("*").cast("double"), 4
        ).alias("conv_pct"),
    )


def zscore_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_cols: Sequence[str],
    k: float = 3.0,
    unit_scale: int = 100,
    round_to: int = 4,
) -> DataFrame:
    """Per-group z-score outlier detection: rows whose value lies more
    than ``k`` sample standard deviations from their group's mean —
    the anomaly screen a data-quality gate runs per shard/source
    before admission.

    Group moments accumulate as EXACT integers over ``value·unit_scale``
    (the ``describe_stats``/``corr_matrix_exact`` precondition: ≤2
    decimals at scale 100), so the derived mean/stddev doubles are
    bit-identical under any partial-aggregation order, and the
    boundary comparison |v−μ| > k·σ evaluates identically in every
    engine — no row can flip sides from float reassociation.

    Scale shape: one hash aggregation for the per-group moments (tiny
    output — one row per group), broadcast back onto the fact, and a
    codegen'd filter.  No window, no second shuffle of the data."""
    vc = F.round(F.col(value_col) * unit_scale, 0).cast("long")
    n = F.count("*")
    nn = n.cast("double")
    S = F.sum(vc).cast("double")
    S2 = F.sum(
        (vc.cast("decimal(19,0)") * vc).cast("decimal(38,0)")
    ).cast("double")
    stats = df.groupBy(group_col).agg(
        n.alias("__n"),
        (S / nn).alias("__mean_c"),
        F.when(
            n > 1,
            F.sqrt((nn * S2 - S * S) / (nn * (nn - F.lit(1.0)))),
        ).alias("__std_c"),
    )
    j = df.join(F.broadcast(stats), group_col)
    z = (vc.cast("double") - F.col("__mean_c")) / F.col("__std_c")
    return (
        j.filter(
            (F.col("__std_c") > 0)
            & (F.abs(vc.cast("double") - F.col("__mean_c"))
               > F.lit(k) * F.col("__std_c"))
        )
        .select(
            *id_cols,
            group_col,
            F.col(value_col),
            F.round(z, round_to).alias("z"),
        )
    )


def group_sample_topk(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
    seed: int = 40503,
) -> DataFrame:
    """Deterministic per-group sample of exactly ``min(k, |group|)``
    rows: rank rows inside each group by a pure multiplicative hash of
    the id (the ``hash_split(method="portable")`` family — a function
    of (id, seed) only) and keep the first ``k``.  Unlike Bernoulli
    sampling this guarantees the per-group count, and unlike
    ``ORDER BY random()`` it is reproducible across runs, engines and
    repartitioning — the holdout/eval-slice sampler a training
    pipeline can re-derive at any time.

    Scale shape: one shuffle on the group key and a per-group sort for
    the row_number window.  A pathologically hot group makes that
    partition the straggler; the remedy at 100 TB is a first-pass
    per-partition ``k``-prefilter on the same hash (cheap local top-k
    bounds each group's shuffle input to k·P rows) — composable
    upstream; the semantics here stay exact."""
    from pyspark.sql import Window as W

    from parquet_editor_spark.functions.hashing import portable_bucket

    h = portable_bucket(id_col, seed)
    rn = F.row_number().over(
        W.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    )
    return df.withColumn("__rn", rn).filter(F.col("__rn") <= k).drop("__rn")


def null_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-column completeness profile: row count, null count, null
    fraction and exact distinct cardinality — the column-level data-
    quality report a schema-contract gate checks before admission
    (complement of ``describe_stats``, which assumes numeric columns;
    this one profiles anything).

    One aggregation pass: all metrics ride in a single agg (Spark
    expands multiple COUNT DISTINCTs; at 100 TB swap the exact
    count_distinct for approx_count_distinct — the exact form is kept
    here because the differential oracle needs value equality), then
    a 1-row explode to long form.  Null fraction divides exact
    integers, so the double is engine-identical."""
    aggs = [F.count("*").alias("__n")]
    for c in cols:
        aggs.append(F.count(c).alias(f"__nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"__nd_{c}"))
    m = df.agg(*aggs)
    rows = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col("__n").cast("long").alias("n_rows"),
            (F.col("__n") - F.col(f"__nn_{c}")).cast("long").alias("n_null"),
            F.round(
                F.try_divide(
                    F.col("__n") - F.col(f"__nn_{c}"),
                    F.col("__n").cast("double"),
                ),
                6,
            ).alias("null_frac"),
            F.col(f"__nd_{c}").cast("long").alias("n_distinct"),
        )
        for c in cols
    ]
    return m.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


def rolling_spikes(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    window_rows: int = 50,
    k: float = 3.0,
    unit_scale: int = 100,
    round_to: int = 4,
    min_periods: int = 10,
) -> DataFrame:
    """Temporal anomaly screen: rows whose value sits more than ``k``
    sample stddevs from the rolling mean of the PRECEDING
    ``window_rows`` rows in their group's time order — the spike
    detector a metrics pipeline runs per series, where the global
    z-score (``zscore_outliers``) would miss level shifts.

    The first ``min_periods`` rows of each series are a warm-up: a
    stddev over fewer samples is too noisy to flag against, so rows
    whose preceding frame holds fewer than ``min_periods`` values are
    never emitted.  ``window_rows`` must be >= ``min_periods`` (else
    every frame is warm-up and the result is always empty — an error,
    not a silent no-op).

    Moments accumulate over exact integer units (the
    ``describe_stats`` cents convention) inside a ROWS BETWEEN frame
    that EXCLUDES the current row, so a spike cannot mask itself and
    the derived mean/stddev doubles are bit-identical across engines;
    ties in the time order are broken by ``id_col``, making the frame
    contents deterministic.

    Scale shape: one shuffle+sort per group (two window aggregates
    share the frame); groups are independent series, so the partition
    unit is the series, never the table."""
    from pyspark.sql import Window as W

    if window_rows < min_periods:
        raise ValueError(
            f"window_rows={window_rows} < min_periods={min_periods}: "
            "every frame would be warm-up and the result always empty"
        )
    vc = F.round(F.col(value_col) * unit_scale, 0).cast("long")
    frame = (
        W.partitionBy(group_col)
        .orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
        .rowsBetween(-window_rows, -1)
    )
    n = F.count(vc).over(frame)
    nn = n.cast("double")
    S = F.sum(vc).over(frame).cast("double")
    S2 = (
        F.sum((vc.cast("decimal(19,0)") * vc).cast("decimal(38,0)"))
        .over(frame)
        .cast("double")
    )
    mean_c = S / nn
    std_c = F.when(
        n > 1, F.sqrt((nn * S2 - S * S) / (nn * (nn - F.lit(1.0))))
    )
    z = (vc.cast("double") - mean_c) / std_c
    return (
        df.withColumn("__n", n)
        .withColumn("__m", mean_c)
        .withColumn("__s", std_c)
        .filter(
            (F.col("__n") >= min_periods)
            & (F.col("__s") > 0)
            & (F.abs(vc.cast("double") - F.col("__m"))
               > F.lit(k) * F.col("__s"))
        )
        .select(
            id_col,
            group_col,
            F.col(value_col),
            F.round(
                (vc.cast("double") - F.col("__m")) / F.col("__s"), round_to
            ).alias("z"),
        )
    )


def session_table(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    id_col: str,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Session-LEVEL table from an event log: one row per (user,
    session) with ordinal session id, start/end timestamps, event
    count and duration — the materialization behind funnel/retention/
    engagement metrics, one step past per-user session COUNTS
    (``sessionize``-style aggregates).

    Session boundaries by the standard gap rule (new session when the
    gap to the previous same-user event exceeds ``gap_seconds``);
    ``session_id`` is the running sum of boundary flags, so ids are
    dense 1..n per user and deterministic under the (ts, id) total
    order.  Duration is exact integer epoch arithmetic.

    Scale shape: ONE shuffle+sort on the user key — the boundary lag,
    the running-sum window and the final (user, session) aggregation
    all share it (the per-session agg keys are a prefix extension of
    the window partition, so no second exchange)."""
    from pyspark.sql import Window as W

    w = W.partitionBy(user_col).orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
    prev = F.lag(ts_col).over(w)
    gap = (F.col(ts_col) - prev) > F.expr(f"INTERVAL {gap_seconds} SECONDS")
    start = F.when(prev.isNull() | gap, 1).otherwise(0)
    sessioned = df.withColumn(
        "session_id",
        F.sum(start).over(w.rowsBetween(W.unboundedPreceding, 0)).cast("long"),
    )
    return (
        sessioned.groupBy(user_col, "session_id")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").cast("long").alias("n_events"),
        )
        # timestampdiff on the NTZ values directly — a cast to
        # TIMESTAMP would route through the session timezone, which
        # an external driver controls (the repo's documented hazard)
        .withColumn(
            "duration_us",
            F.expr(
                "timestampdiff(MICROSECOND, session_start, session_end)"
            ),
        )
    )
