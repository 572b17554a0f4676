"""DamFrame: the dplyr-verb surface of the engine, Spark-first.

Every verb is a thin, *lazy* wrapper that builds a Catalyst logical plan via
the PySpark DataFrame API — there is no custom execution machinery. The
reference (SciNim/Datamancer) evaluates each verb eagerly over in-memory
tensors; here each verb only extends the plan, and Catalyst handles pushdown,
pruning, join selection and codegen (SURVEY.md §4: every reference
optimization is a Catalyst builtin).

Verb parity map (reference = /root/reference/src/datamancer):
  filter        dataframe.nim:1360-1385
  select        dataframe.nim:1403-1443
  drop          dataframe.nim:876-884
  rename        dataframe.nim:1821-1847
  relocate      dataframe.nim:1476-1527
  mutate        dataframe.nim:1674-1775
  transmute     dataframe.nim:1777-1819
  arrange       dataframe.nim:1604-1657
  head/tail     dataframe.nim:2197-2203
  unique        dataframe.nim:2370-2422
  set_diff      dataframe.nim:2140-2195
  bind_rows     dataframe.nim:926-1040
  inner_join    dataframe.nim:1885-1992
  group_by      dataframe.nim:2007-2035
  summarize     dataframe.nim:2037-2101
  count         dataframe.nim:2103-2138
  gather        dataframe.nim:2205-2259
  spread        dataframe.nim:2261-2345
  drop_null     dataframe.nim:2424-2465
  drop_nan      dataframe.nim:2467-2493
  shuffle       dataframe.nim:2497-2511
  random_head   dataframe.nim:2513-2521
  masked assign dataframe.nim:344-370

Row-order policy (SURVEY.md §7 "hard parts" #1): Spark frames are unordered;
order-sensitive verbs (head/tail/slice, lag/lead, first-occurrence unique)
take an explicit ``order_by`` column list instead of relying on implicit
order. ``with_row_id`` provides an explicit ordering column when the source
has none. This is deliberate API divergence: implicit order does not exist
on a 1000-executor cluster, so the engine makes it explicit and cheap
(zipWithIndex-free: ``row_number`` over a real key, or
``monotonically_increasing_id`` when only uniqueness matters).
"""

from __future__ import annotations

import functools
from collections.abc import Iterable, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _to_col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _error_condition(e: AnalysisException) -> str:
    """Error condition of an AnalysisException, falling back to str(e)."""
    return e.getCondition() or str(e)


# Error classes Catalyst raises when an aggregate appears in a row-level
# context — the ONLY errors that may route into the grouped-reduction
# rewrites. Anything else (typo'd column, bad type, …) re-raises so the
# user sees the real AnalysisException, not a confusing secondary failure.
_REDUCING_ERRORS = ("MISSING_GROUP_BY", "INVALID_WHERE_CONDITION")


def _is_reducing_error(e: AnalysisException) -> bool:
    cond = _error_condition(e)
    return any(marker in cond for marker in _REDUCING_ERRORS)


def _null_safe_key_join(
    left: DataFrame, right: DataFrame, keys: Sequence[str], how: str
) -> DataFrame:
    """Join ``right`` (carrying keys renamed ``_r_<k>``) back to ``left``
    with null-safe key equality: groupBy treats NULL as a real group, so
    the join-back must match NULL keys too (a plain equi-join silently
    drops NULL-keyed groups)."""
    cond = functools.reduce(
        lambda a, b: a & b,
        [F.col(k).eqNullSafe(F.col(f"_r_{k}")) for k in keys],
    )
    out = left.join(right, on=cond, how=how)
    if how != "left_semi":
        out = out.drop(*[f"_r_{k}" for k in keys])
    return out


class DamFrame:
    """Immutable dataframe handle: wraps a pyspark DataFrame + group keys.

    Grouping is lazy metadata exactly as in the reference
    (``df_types.nim:13-18``: ``dfGrouped`` just records keys): ``group_by``
    returns a new DamFrame whose subsequent ``summarize`` / ``mutate`` /
    ``filter`` interpret aggregate expressions per-group. No data moves
    until an action.
    """

    def __init__(self, df: DataFrame, group_keys: tuple[str, ...] = ()):
        self._df = df
        self._group_keys = tuple(group_keys)

    # -- plumbing ---------------------------------------------------------

    @property
    def df(self) -> DataFrame:
        """The underlying pyspark DataFrame (escape hatch)."""
        return self._df

    @property
    def group_keys(self) -> tuple[str, ...]:
        return self._group_keys

    @property
    def columns(self) -> list[str]:
        return self._df.columns

    def _wrap(self, df: DataFrame, keep_groups: bool = True) -> DamFrame:
        return DamFrame(df, self._group_keys if keep_groups else ())

    def __repr__(self) -> str:  # pragma: no cover
        g = f" grouped by {list(self._group_keys)}" if self._group_keys else ""
        return f"DamFrame[{', '.join(self._df.columns)}]{g}"

    # -- actions ----------------------------------------------------------

    def collect(self):
        return self._df.collect()

    def count_rows(self) -> int:
        return self._df.count()

    def show(self, n: int = 20, truncate: bool = True) -> None:  # pragma: no cover
        self._df.show(n, truncate)

    def to_pandas(self):
        return self._df.toPandas()

    def explain(self, mode: str = "formatted") -> None:  # pragma: no cover
        self._df.explain(mode)

    def as_view(self, name: str) -> DamFrame:
        """Register for ``spark.sql`` — the SQL entry point the reference
        lacks entirely (SURVEY §2.12: "No SQL parser"); free on Spark."""
        self._df.createOrReplaceTempView(name)
        return self

    # -- row id / ordering helper ----------------------------------------

    def spread_partitions(self, n: int | None = None) -> DamFrame:
        """Round-robin repartition to cluster parallelism before
        compute-heavy per-row work — needed when the source is few
        unsplittable files (a single-row-group parquet scans as ONE
        partition, serializing all expression work on one core)."""
        n = n or self._df.sparkSession.sparkContext.defaultParallelism
        return self._wrap(self._df.repartition(n))

    def with_row_id(self, name: str = "_row_id") -> DamFrame:
        """Attach a unique, *partition-ordered* id.

        ``monotonically_increasing_id`` is embarrassingly parallel (no
        shuffle, no driver round-trip) and preserves within-partition order;
        ids are unique but not dense. Use a real sort key when dense ranks
        are needed (``row_number`` — one shuffle).
        """
        return self._wrap(self._df.withColumn(name, F.monotonically_increasing_id()))

    # -- projection / mutation verbs --------------------------------------

    def select(self, *cols: ColumnOrName) -> DamFrame:
        """Keep columns in argument order (ref select keeps group keys;
        we do too by prepending missing keys). Key presence is checked on
        the analyzed result so aliased Column args count."""
        out = self._df.select(*[_to_col(c) for c in cols])
        missing = [k for k in self._group_keys if k not in out.columns]
        if missing:
            out = self._df.select(
                *[F.col(k) for k in missing], *[_to_col(c) for c in cols]
            )
        return self._wrap(out)

    def drop(self, *cols: str) -> DamFrame:
        return self._wrap(self._df.drop(*cols))

    def rename(self, **mapping: str) -> DamFrame:
        """``rename(new=old)`` — keyword is the new name, value the old,
        mirroring the reference's ``f{"new" <- "old"}``. Applied as ONE
        atomic select so swap/chain mappings (``rename(x="y", y="x")``)
        resolve against the original names instead of colliding
        mid-sequence. Unknown old names are ignored (withColumnRenamed
        compatibility)."""
        old_to_new = {old: new for new, old in mapping.items()}
        df = self._df.select(
            *[
                F.col(c).alias(old_to_new[c]) if c in old_to_new else F.col(c)
                for c in self._df.columns
            ]
        )
        keys = tuple(old_to_new.get(k, k) for k in self._group_keys)
        return DamFrame(df, keys)

    def relocate(
        self,
        *cols: str,
        before: str | None = None,
        after: str | None = None,
    ) -> DamFrame:
        """Reorder columns (ref dataframe.nim:1476-1527). Pure projection —
        zero cost in the plan."""
        rest = [c for c in self._df.columns if c not in cols]
        moving = list(cols)
        if before is None and after is None:
            new_order = moving + rest
        else:
            anchor = before if before is not None else after
            if anchor in cols:
                raise ValueError(
                    f"relocate anchor {anchor!r} cannot be one of the moved columns"
                )
            idx = rest.index(anchor) + (0 if before is not None else 1)
            new_order = rest[:idx] + moving + rest[idx:]
        return self._wrap(self._df.select(*new_order))

    def mutate(self, **exprs: Column) -> DamFrame:
        """Add/overwrite columns. Row-level expressions go straight to
        ``withColumn``; reducing expressions (the reference's fkScalar
        broadcast, dataframe.nim:1674-1775) are detected by Catalyst's own
        analyzer (AnalysisException on the row path) and rewritten as a
        WINDOW aggregate over the group keys — one shuffle+sort of the
        data, no join (measured 4x faster than the agg+join-back plan at
        the reference's 150k-group anchor, and the only shape that holds
        when the per-group aggregate exceeds the broadcast threshold:
        at 150M groups the join-back degenerates to a sort-merge join of
        BOTH sides, two sorts instead of the window's one). Aggregates a
        window can't express (DISTINCT forms) fall back to the
        hash-aggregate + null-safe-equi-join-back rewrite. Ungrouped
        reductions broadcast via a 1-row cross join (Catalyst folds it
        to a broadcast nested loop)."""
        df = self._df
        for name, expr in exprs.items():
            try:
                df = df.withColumn(name, expr)
            except AnalysisException as e:
                if not _is_reducing_error(e):
                    raise
                if self._group_keys:
                    keys = list(self._group_keys)
                    try:
                        df2 = df.withColumn(
                            name, expr.over(Window.partitionBy(*keys))
                        )
                        df2.schema  # force analysis before committing
                        df = df2
                        continue
                    except AnalysisException:
                        pass  # not window-expressible: agg + join back
                    try:
                        agg = df.groupBy(*keys).agg(expr.alias(name))
                    except AnalysisException as e2:
                        if "MISSING_AGGREGATION" not in _error_condition(e2):
                            raise
                        raise ValueError(
                            f"mutate({name}=...): the expression mixes "
                            "row-level columns with a whole-group "
                            "reduction. Split it: first mutate the pure "
                            "reduction (e.g. total=F.sum(col)), then a "
                            "second mutate with the row-level expression "
                            "referencing it."
                        ) from e2
                    right = agg.select(
                        *[F.col(k).alias(f"_r_{k}") for k in keys], name
                    )
                    if name in df.columns:
                        df = df.drop(name)
                    df = _null_safe_key_join(df, right, keys, "left")
                else:
                    df = df.crossJoin(df.agg(expr.alias(name)))
        return self._wrap(df)

    def transmute(self, **exprs: Column) -> DamFrame:
        """mutate then keep only the produced columns (+ group keys)."""
        return self.mutate(**exprs).select(*exprs.keys())

    def masked_assign(self, col: str, cond: Column, value) -> DamFrame:
        """``df[f{cond}, "col"] = val`` (ref dataframe.nim:344-370).

        Promote-on-conflict (ref column.nim:794-844: a mismatched assign
        rewrites the column rather than failing): int column + float value
        → double; otherwise incompatible → both cast to string (the
        engine's colObject stand-in, SURVEY.md §7)."""
        lit = value if isinstance(value, Column) else F.lit(value)
        try:
            return self._wrap(
                self._df.withColumn(col, F.when(cond, lit).otherwise(F.col(col)))
            )
        except AnalysisException as e:
            # Only genuine type conflicts take the string-promotion path;
            # everything else (typo'd column, bad expression) re-raises.
            if "DATATYPE_MISMATCH" not in _error_condition(e):
                raise
            return self._wrap(
                self._df.withColumn(
                    col,
                    F.when(cond, lit.cast("string")).otherwise(
                        F.col(col).cast("string")
                    ),
                )
            )

    # -- filter -----------------------------------------------------------

    def filter(self, *conds: Column) -> DamFrame:
        """Keep rows where all conditions hold. Reducing conditions (the
        reference's ``<<`` filter, dataframe.nim:1321-1358) keep or drop
        whole groups: detected via Catalyst's analyzer, then rewritten as
        groupBy(keys).agg(pred) → semi-join — one partial-aggregated
        shuffle, no per-group Python. Ungrouped reducing predicates keep
        all rows or none (cross join against the 0/1-row agg result)."""
        df = self._df
        for cond in conds:
            try:
                df = df.filter(cond)
            except AnalysisException as e:
                if not _is_reducing_error(e):
                    raise
                keys = list(self._group_keys)
                if keys:
                    keep = (
                        df.groupBy(*keys)
                        .agg(cond.alias("_keep"))
                        .filter(F.col("_keep"))
                        .select(*[F.col(k).alias(f"_r_{k}") for k in keys])
                    )
                    df = _null_safe_key_join(df, keep, keys, "left_semi")
                else:
                    gate = (
                        df.agg(cond.alias("_keep"))
                        .filter(F.col("_keep"))
                        .select(F.lit(1).alias("_gate"))
                    )
                    df = df.crossJoin(gate).drop("_gate")
        return self._wrap(df)

    # -- sorting / limits / sampling --------------------------------------

    def arrange(self, *by: ColumnOrName, ascending: bool = True) -> DamFrame:
        """Multi-key sort (ref dataframe.nim:1604-1657: single global
        direction). Pass Column objects (``F.col("x").desc()``) for per-key
        direction — a superset of the reference. Total sort = range
        partitioning; Spark samples boundaries, so it scales."""
        cols = [
            (F.col(c).asc() if ascending else F.col(c).desc())
            if isinstance(c, str)
            else c
            for c in by
        ]
        return self._wrap(self._df.orderBy(*cols))

    def head(self, n: int, order_by: Sequence[ColumnOrName] | None = None) -> DamFrame:
        """First n rows. Give ``order_by`` for a deterministic result —
        Spark plans TakeOrderedAndProject (per-partition top-n + merge,
        no full sort shuffle)."""
        df = self._df
        if order_by:
            df = df.orderBy(*[_to_col(c) for c in order_by])
        return self._wrap(df.limit(n), keep_groups=False)

    def tail(self, n: int, order_by: Sequence[str]) -> DamFrame:
        """Last n rows under ``order_by`` — implemented as reversed
        top-n (TakeOrderedAndProject), then restored order."""
        rev = self._df.orderBy(*[F.col(c).desc() for c in order_by]).limit(n)
        return self._wrap(rev.orderBy(*order_by), keep_groups=False)

    def slice_rows(self, start: int, stop: int, order_by: Sequence[str]) -> DamFrame:
        """Inclusive positional slice ``df[a..b]`` (ref dataframe.nim:211-221)
        under an explicit order. row_number needs a total order: single
        window over a global sort — fine for interactive slicing, not a
        bulk-path primitive (document: use filters at scale)."""
        w = Window.orderBy(*[F.col(c) for c in order_by])
        return self._wrap(
            self._df.withColumn("_rn", F.row_number().over(w) - 1)
            .filter((F.col("_rn") >= start) & (F.col("_rn") <= stop))
            .drop("_rn"),
            keep_groups=False,
        )

    def shuffle(self, seed: int | None = None) -> DamFrame:
        """Random permutation (ref dataframe.nim:2497-2511)."""
        return self._wrap(self._df.orderBy(F.rand(seed)))

    def random_head(self, n: int, seed: int | None = None) -> DamFrame:
        return self._wrap(self._df.orderBy(F.rand(seed)).limit(n), keep_groups=False)

    def sample(self, fraction: float, seed: int | None = None) -> DamFrame:
        """Scale path for random subsets: no sort, no shuffle."""
        return self._wrap(self._df.sample(fraction=fraction, seed=seed))

    # -- grouping / aggregation -------------------------------------------

    def group_by(self, *keys: str, add: bool = False) -> DamFrame:
        new_keys = (self._group_keys + keys) if add else keys
        return DamFrame(self._df, tuple(dict.fromkeys(new_keys)))

    def ungroup(self) -> DamFrame:
        return DamFrame(self._df, ())

    def summarize(self, **aggs: Column) -> DamFrame:
        """Reducing formulas (ref ``<<``): one row per group, keys become
        columns; ungrouped → single row. Catalyst plans partial (map-side)
        + final hash aggregation — the scalable replacement for the
        reference's sort-and-scan grouping (dataframe.nim:2073-2101)."""
        exprs = [v.alias(k) for k, v in aggs.items()]
        if self._group_keys:
            out = self._df.groupBy(*self._group_keys).agg(*exprs)
        else:
            out = self._df.agg(*exprs)
        return DamFrame(out, ())

    summarise = summarize

    def apply_by_group(self, fn, schema) -> DamFrame:
        """Arbitrary per-group logic as an Arrow grouped-map Pandas UDF —
        the engine's analog of the reference's full ``formula:`` block
        with custom accumulators (formulaExp.nim:790-841). The escape
        hatch when expressions/windows can't say it; each group must fit
        in one executor's memory (documented contract of applyInPandas)."""
        if not self._group_keys:
            raise ValueError("apply_by_group requires a grouped frame")
        return DamFrame(
            self._df.groupBy(*self._group_keys).applyInPandas(fn, schema), ()
        )

    def rollup(self, *keys: str, **aggs: Column) -> DamFrame:
        """Hierarchical subtotals (beyond-reference: SURVEY.md §2.5 notes
        the reference has no grouping sets). NULL marks the rolled-up
        levels, as in SQL ROLLUP."""
        exprs = [v.alias(k) for k, v in aggs.items()]
        return DamFrame(self._df.rollup(*keys).agg(*exprs), ())

    def cube(self, *keys: str, **aggs: Column) -> DamFrame:
        """All grouping-set combinations (beyond-reference)."""
        exprs = [v.alias(k) for k, v in aggs.items()]
        return DamFrame(self._df.cube(*keys).agg(*exprs), ())

    def count(self, *cols: str, name: str = "n") -> DamFrame:
        """group_by(cols) + per-group count (ref dataframe.nim:2103-2138)."""
        keys = cols or self._group_keys
        if keys:
            return DamFrame(
                self._df.groupBy(*keys).agg(F.count(F.lit(1)).alias(name)), ()
            )
        return DamFrame(self._df.agg(F.count(F.lit(1)).alias(name)), ())

    # -- joins ------------------------------------------------------------

    def inner_join(
        self,
        other: DamFrame | DataFrame,
        by: str | Sequence[str],
        common: str = "rename",
        broadcast_right: bool = False,
    ) -> DamFrame:
        return self._join(other, by, "inner", common, broadcast_right)

    def left_join(self, other, by, common="rename", broadcast_right=False) -> DamFrame:
        return self._join(other, by, "left", common, broadcast_right)

    def right_join(self, other, by, common="rename", broadcast_right=False) -> DamFrame:
        return self._join(other, by, "right", common, broadcast_right)

    def full_join(self, other, by, common="rename") -> DamFrame:
        return self._join(other, by, "full", common, False)

    def semi_join(self, other, by, broadcast_right=False) -> DamFrame:
        return self._join(other, by, "left_semi", "left", broadcast_right)

    def anti_join(self, other, by, broadcast_right=False) -> DamFrame:
        return self._join(other, by, "left_anti", "left", broadcast_right)

    def cross_join(self, other) -> DamFrame:
        o = other.df if isinstance(other, DamFrame) else other
        return DamFrame(self._df.crossJoin(o), ())

    def _join(
        self,
        other: DamFrame | DataFrame,
        by: str | Sequence[str],
        how: str,
        common: str,
        broadcast_right: bool,
    ) -> DamFrame:
        """Equi-join with the reference's common-column policies
        (CommonColumnMerge, dataframe.nim:1857-1883): 'rename' suffixes
        clashing non-key columns _left/_right, 'left' keeps the left copy,
        'drop' drops both. The reference only has single-key inner join
        implemented as sort-merge with a hash prefilter
        (dataframe.nim:1885-1992); Catalyst chooses broadcast-hash /
        shuffled-hash / SMJ per stats + AQE, which subsumes that. Pass
        ``broadcast_right=True`` to force a broadcast hint for known-small
        dimension tables."""
        right = other.df if isinstance(other, DamFrame) else other
        keys = [by] if isinstance(by, str) else list(by)
        left = self._df
        clashes = [
            c for c in left.columns if c in right.columns and c not in keys
        ]
        if common == "rename":
            for c in clashes:
                left = left.withColumnRenamed(c, f"{c}_left")
                right = right.withColumnRenamed(c, f"{c}_right")
        elif common == "left":
            right = right.drop(*clashes)
        elif common == "drop":
            left = left.drop(*clashes)
            right = right.drop(*clashes)
        else:  # pragma: no cover
            raise ValueError(f"unknown common-column policy: {common}")
        if broadcast_right:
            right = F.broadcast(right)
        return DamFrame(left.join(right, on=keys, how=how), ())

    # -- set / stacking ----------------------------------------------------

    def bind_rows(self, *others: DamFrame | DataFrame, id: str | None = None) -> DamFrame:
        """Vertical concat with column union; missing columns null-filled
        (ref dataframe.nim:926-1040). ``id`` adds a provenance column with
        the input's ordinal as string. unionByName is plan-only — O(1).

        Type promotion follows the reference (combinedColKind,
        column.nim:507-522): a column typed differently across inputs is
        promoted — numeric pair → double, anything else → string (our
        stand-in for colObject, SURVEY.md §7)."""
        frames = [self._df] + [
            o.df if isinstance(o, DamFrame) else o for o in others
        ]
        frames = _promote_for_union(frames)
        if id is not None:
            frames = [f.withColumn(id, F.lit(str(i))) for i, f in enumerate(frames)]
        out = functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        )
        return DamFrame(out, ())

    def concat(self, other: DamFrame | DataFrame) -> DamFrame:
        """``add`` in the reference (dataframe.nim:1042-1082): concat
        requiring identical column sets."""
        o = other.df if isinstance(other, DamFrame) else other
        if set(o.columns) != set(self._df.columns):
            raise ValueError(
                f"concat requires identical columns: {self._df.columns} vs {o.columns}"
            )
        return DamFrame(self._df.unionByName(o), ())

    def set_diff(self, other: DamFrame | DataFrame, symmetric: bool = False) -> DamFrame:
        """Row-wise set difference (ref dataframe.nim:2140-2195).
        exceptAll = multiset semantics, matching the reference's row-hash
        approach."""
        o = other.df if isinstance(other, DamFrame) else other
        if symmetric:
            o2 = o.select(*self._df.columns)
            return DamFrame(
                self._df.exceptAll(o2).unionByName(o2.exceptAll(self._df)), ()
            )
        return DamFrame(self._df.exceptAll(o.select(*self._df.columns)), ())

    def intersect_rows(self, other: DamFrame | DataFrame) -> DamFrame:
        o = other.df if isinstance(other, DamFrame) else other
        return DamFrame(self._df.intersectAll(o.select(*self._df.columns)), ())

    def unique(
        self,
        *cols: str,
        keep_all: bool = True,
        order_by: Sequence[str] | None = None,
    ) -> DamFrame:
        """Distinct rows, optionally keyed on a subset (ref
        dataframe.nim:2370-2422 keeps the *first* occurrence). Without
        ``order_by``: dropDuplicates (arbitrary representative — cheapest,
        one shuffle). With ``order_by``: deterministic first-occurrence via
        min_by-style window, still one shuffle."""
        if not cols:
            return self._wrap(self._df.distinct(), keep_groups=False)
        if not keep_all:
            return self._wrap(
                self._df.select(*cols).distinct(), keep_groups=False
            )
        if order_by is None:
            return self._wrap(self._df.dropDuplicates(list(cols)), keep_groups=False)
        w = Window.partitionBy(*cols).orderBy(*[F.col(c) for c in order_by])
        return self._wrap(
            self._df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn"),
            keep_groups=False,
        )

    # -- reshaping ---------------------------------------------------------

    def gather(
        self,
        cols: Sequence[str],
        key: str = "key",
        value: str = "value",
        drop_nulls: bool = False,
    ) -> DamFrame:
        """Wide→long melt (ref dataframe.nim:2205-2259). Spark's native
        ``unpivot`` — plan-only expansion, no shuffle. Gathered columns are
        cast to their common type by Spark, mirroring the reference's
        ``withCombinedType``."""
        ids = [c for c in self._df.columns if c not in cols]
        out = self._df.unpivot(ids, list(cols), key, value)
        if drop_nulls:
            out = out.filter(F.col(value).isNotNull())
        return DamFrame(out, ())

    def spread(
        self,
        names_from: str,
        values_from: str,
        fill=None,
    ) -> DamFrame:
        """Long→wide pivot (ref dataframe.nim:2261-2345):
        groupBy(rest).pivot(names).agg(first(values)). At scale, pass the
        distinct pivot values via ``pivot(values=...)`` upstream if known to
        skip the distinct-collect job; here we let Spark collect them (it
        caps at spark.sql.pivotMaxValues).

        DOCUMENTED DIVERGENCE (like the epsilon-equality note): the
        reference ignores its ``valuesFill`` parameter and default-
        initializes missing cells to the column dtype's native default —
        0 / 0.0 / "" (dataframe.nim:2273-2275). Here missing cells stay
        NULL (SQL's honest missing marker) unless ``fill=`` is passed;
        ``fill=0`` reproduces the reference's numeric behavior exactly
        (pinned by tests/test_frame_verbs.py::test_spread_fill_parity)."""
        rest = [
            c for c in self._df.columns if c not in (names_from, values_from)
        ]
        out = (
            self._df.groupBy(*rest)
            .pivot(names_from)
            .agg(F.first(values_from))
        )
        if fill is not None:
            pivoted = [c for c in out.columns if c not in rest]
            out = out.fillna(fill, subset=pivoted)
        return DamFrame(out, ())

    # -- missing data ------------------------------------------------------

    def drop_null(self, *cols: str) -> DamFrame:
        """Drop rows with NULL in cols (ref dataframe.nim:2424-2465)."""
        return self._wrap(self._df.dropna(subset=list(cols) if cols else None))

    def drop_nan(self, *cols: str) -> DamFrame:
        """Drop rows with float NaN (ref dataframe.nim:2467-2493).
        NaN != NULL in Spark, same as the reference's distinction."""
        targets = list(cols) if cols else [
            f.name
            for f in self._df.schema.fields
            if f.dataType.typeName() in ("double", "float")
        ]
        if not targets:  # no float columns → nothing can be NaN
            return self
        cond = functools.reduce(
            lambda a, b: a & b, (~F.isnan(F.col(c)) for c in targets)
        )
        return self._wrap(self._df.filter(cond))

    def fill_null(self, value, *cols: str) -> DamFrame:
        return self._wrap(self._df.fillna(value, subset=list(cols) if cols else None))

    def cast_column(self, col: str, dtype: str, strict: bool = False) -> DamFrame:
        """toNativeColumn analog (ref column.nim:1039-1080): re-type a
        column. Non-strict (default) yields NULL on failed casts — the
        reference's tolerant path; strict raises if any value fails."""
        out = self._wrap(self._df.withColumn(col, F.col(col).cast(dtype)))
        if strict:
            bad = out.df.filter(F.col(col).isNull() & self._df[col].isNotNull())
            if not bad.isEmpty():
                raise ValueError(f"cast_column('{col}', '{dtype}'): some values failed")
        return out

    def __getitem__(self, key: str) -> Column:
        """Column access sugar: ``df["x"]`` → Column (ref df[k],
        dataframe.nim:153-170)."""
        return self._df[key]

    # -- window / positional ----------------------------------------------

    def lag(
        self,
        col: str,
        n: int = 1,
        default=None,
        order_by: Sequence[str] = (),
        out: str | None = None,
    ) -> DamFrame:
        """Shift down by n (ref column.nim:1177-1194). Partitioned by the
        group keys when grouped — so the window shuffle is bounded per
        group, not a single-partition global sort."""
        w = self._window(order_by)
        return self._wrap(
            self._df.withColumn(out or f"{col}_lag{n}", F.lag(col, n, default).over(w))
        )

    def lead(
        self,
        col: str,
        n: int = 1,
        default=None,
        order_by: Sequence[str] = (),
        out: str | None = None,
    ) -> DamFrame:
        """Shift up by n (ref column.nim:1196-1213)."""
        w = self._window(order_by)
        return self._wrap(
            self._df.withColumn(out or f"{col}_lead{n}", F.lead(col, n, default).over(w))
        )

    def _window(self, order_by: Sequence[str]):
        if not order_by:
            raise ValueError(
                "order-sensitive op on an unordered distributed frame: pass order_by"
            )
        w = (
            Window.partitionBy(*self._group_keys)
            if self._group_keys
            else Window.partitionBy()
        )
        return w.orderBy(*[F.col(c) for c in order_by])


_NUMERIC = {"tinyint", "smallint", "int", "bigint", "float", "double", "decimal"}


def _promote_for_union(frames: list[DataFrame]) -> list[DataFrame]:
    """Reference type-promotion for vertical concat (column.nim:507-522):
    per shared column name, if dtypes differ → double when all numeric,
    else string."""
    from collections import defaultdict

    dtypes: dict[str, set[str]] = defaultdict(set)
    for f in frames:
        for name, dt in f.dtypes:
            dtypes[name].add(dt.split("(")[0])
    target: dict[str, str] = {}
    for name, kinds in dtypes.items():
        if len(kinds) <= 1:
            continue
        target[name] = "double" if kinds <= _NUMERIC else "string"
    if not target:
        return frames
    out = []
    for f in frames:
        for name, t in target.items():
            if name in f.columns:
                f = f.withColumn(name, F.col(name).cast(t))
        out.append(f)
    return out


def evaluate(expr: Column, frame: DamFrame) -> DataFrame:
    """Run a row-formula standalone → one-column frame (ref evaluate,
    dataframe.nim:2523-2545)."""
    return frame.df.select(expr)


def reduce_formula(expr: Column, frame: DamFrame):
    """Run a reducing formula standalone → scalar (ref reduce,
    dataframe.nim:2547-2571). Driver-side by definition."""
    return frame.df.agg(expr).collect()[0][0]


def col_min(frame: DamFrame, col: str, ignore_inf: bool = True):
    """Column min, Inf-ignoring by default (ref colMin,
    dataframe.nim:886-904)."""
    c = F.col(col)
    df = frame.df
    if ignore_inf:
        df = df.filter(~F.isnan(c) & (c != F.lit(float("inf"))) & (c != F.lit(float("-inf"))))
    return df.agg(F.min(c)).collect()[0][0]


def col_max(frame: DamFrame, col: str, ignore_inf: bool = True):
    """Column max, Inf-ignoring by default (ref colMax,
    dataframe.nim:906-924)."""
    c = F.col(col)
    df = frame.df
    if ignore_inf:
        df = df.filter(~F.isnan(c) & (c != F.lit(float("inf"))) & (c != F.lit(float("-inf"))))
    return df.agg(F.max(c)).collect()[0][0]


def frames_equal(a: DamFrame | DataFrame, b: DamFrame | DataFrame) -> bool:
    """Multiset row equality (ref equal, dataframe.nim:385-405) — both
    exceptAll directions empty. Test-harness utility; two jobs."""
    da = a.df if isinstance(a, DamFrame) else a
    db = b.df if isinstance(b, DamFrame) else b
    if set(da.columns) != set(db.columns):
        return False
    db = db.select(*da.columns)
    return da.exceptAll(db).isEmpty() and db.exceptAll(da).isEmpty()


def add_row(frame: DamFrame, **values) -> DamFrame:
    """Append one literal row (ref add single row, dataframe.nim:762-821
    — discouraged at scale in both engines; plan-only union here)."""
    row = frame.df.sparkSession.createDataFrame(
        [tuple(values.get(c) for c in frame.columns)], schema=frame.df.schema
    )
    return DamFrame(frame.df.unionByName(row), frame.group_keys)


def groups_iter(frame: DamFrame, max_groups: int = 10000):
    """Driver-side (labels, sub-frame) iterator over a grouped frame —
    the reference's ``groups`` iterator (dataframe.nim:1178-1240).
    DISTRIBUTED ANTI-PATTERN by design: each sub-frame is a filtered
    plan, so touching every group launches one job per group. Capped at
    ``max_groups``; for per-group computation use summarize / window /
    applyInPandas instead. Provided for API parity and small interactive
    frames only."""
    keys = frame.group_keys
    if not keys:
        raise ValueError("groups_iter requires a grouped frame")
    distinct = frame.df.select(*keys).distinct().orderBy(*keys).limit(max_groups).collect()
    for row in distinct:
        labels = tuple(row[k] for k in keys)
        cond = functools.reduce(
            lambda a, b: a & b,
            (
                F.col(k).isNull() if row[k] is None else (F.col(k) == F.lit(row[k]))
                for k in keys
            ),
        )
        yield labels, DamFrame(frame.df.filter(cond))


def to_df(data: dict[str, Iterable], spark=None) -> DamFrame:
    """Construct a DamFrame from a dict of columns (ref toDf/seqsToDf,
    dataframe.nim:559-639). Ragged inputs follow the reference: length-1
    columns broadcast as constants, shorter columns padded with NULL
    (extendShortColumns, dataframe.nim:409-419)."""
    from .session import get_spark

    spark = spark or get_spark()
    cols = {k: list(v) for k, v in data.items()}
    n = max((len(v) for v in cols.values()), default=0)
    for k, v in cols.items():
        if len(v) == 1 and n > 1:
            cols[k] = v * n
        elif len(v) < n:
            cols[k] = v + [None] * (n - len(v))
    # Rows built directly (not via pandas): pandas treats NaN as its missing
    # marker, which would silently turn explicit float NaN into SQL NULL.
    # The reference keeps NaN and VNull distinct (SURVEY.md §1.3); so do we.
    rows = list(zip(*cols.values())) if cols else []
    return DamFrame(spark.createDataFrame(rows, schema=list(cols.keys())))
