"""zip/comap → ``cotransform``: apply a function to aligned key groups of
several dataframes.

The reference implements zip by pickling each group into blobs and unioning
(fugue/execution/execution_engine.py:962-1241); that design exists because
Fugue must stay backend-agnostic. The Spark-native execution here is a
tagged union: every input is projected onto the superset schema (payload
columns prefixed per input, NULL elsewhere), unioned, hash-exchanged ONCE
on the keys, and each key group is split back into per-input frames inside
mapInArrow, on transform's grouped executor. Versus cogroup().applyInPandas
this saves a JVM↔Python round trip per group — an order of magnitude on
small groups — and it generalizes to N inputs with the same single shuffle.

``how`` ∈ inner|left_outer|right_outer|full_outer|cross controls which key
groups are emitted (reference zip semantics, execution_engine.py:1007-1029);
``cross`` takes no keys and calls the function once with every input whole.
"""

from __future__ import annotations

import inspect
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fugue_spark.partition import PartitionSpec
from fugue_spark.schema import parse_schema
from fugue_spark.transform import (
    PartitionCursor,
    _ArrowResultBatcher,
    _compile_or_fallback,
    _group_frame_maker,
    _nan_safe_key_exprs,
    _python_stage_partitions,
    _run_groups,
    _table_to_pandas,
)

__all__ = ["cotransform"]

_HOWS = ("inner", "left_outer", "right_outer", "full_outer", "cross")


def _union_cotransform(
    dfs, keys, call, out_schema, wants_kv=True, side_forms=None, presort=(), how="full_outer"
):
    """Zip N dataframes as a tagged union: every input is projected onto the
    superset schema (its payload columns prefixed, others NULL), unioned,
    and hash-exchanged ONCE on the keys; inside mapInArrow each key group
    splits by tag back into per-input frames. One shuffle, one Arrow stream
    per partition — beats cogroup().applyInPandas by an order of magnitude
    when groups are small (no JVM↔Python round trip per group).

    ``side_forms[i]`` ∈ {'pd','pa'}: a ``pa.Table``-annotated side skips the
    pandas conversion entirely — its groups are zero-copy ``Table.slice``
    views of the partition's Arrow stream (the same win as transform's
    arrow fast path, q20 vs q11). ``presort`` is applied JVM-side inside
    the single partition sort (per-side column resolution via a CASE over
    the tag), so no python-side sort runs per group. The groups run on
    transform's grouped executor (``_run_groups``); ``call(frames, kv)``
    gets one input per side and returns the raw user result."""
    side_forms = side_forms or ["pd"] * len(dfs)
    payloads = [[c for c in d.columns if c not in keys] for d in dfs]
    parts = []
    for i, (d, cols) in enumerate(zip(dfs, payloads)):
        proj = [F.col(k) for k in keys] + [F.lit(i).alias("__tag__")]
        for j, (dj, colsj) in enumerate(zip(dfs, payloads)):
            for c in colsj:
                if i == j:
                    proj.append(F.col(c).alias(f"__in{j}__{c}"))
                else:
                    proj.append(
                        F.lit(None).cast(dj.schema[c].dataType).alias(f"__in{j}__{c}")
                    )
        parts.append(d.select(*proj))
    combined = parts[0]
    for p in parts[1:]:
        combined = combined.unionByName(p)
    # NaN-safe key exprs: float NULL and NaN must co-partition and sort
    # adjacent — pandas treats them as one key (see _nan_safe_key_exprs)
    key_exprs = _nan_safe_key_exprs(combined, keys)
    # whole-frame (cross) zip: no keys, so one partition is the one group;
    # the reference's cross zip likewise serializes each input to a
    # single-partition blob (execution_engine.py:1026-1029)
    combined = (
        combined.repartition(_python_stage_partitions(combined), *key_exprs)
        if keys
        else combined.repartition(1)
    )
    # JVM-side sort: every (key, tag) run arrives unbroken in the Arrow
    # stream, so the python side slices groups by run-length with no sort.
    # Presort rides the same sort: each side's column c lives at
    # __in{i}__{c}, so a CASE over the tag resolves "sort by c" per side —
    # within a (key, tag) run the CASE is one side's column, sorting that
    # side's rows by its own values (NULL constant for sides lacking c).
    # nulls-last on data columns = the reference's pandas na_position
    # contract; this removes the per-group pandas sort_values entirely.
    n_inputs = len(dfs)
    in_columns = [list(d.columns) for d in dfs]
    keyset = set(keys)
    presort_exprs = []
    for name, asc in presort:
        branches = None
        for i in range(n_inputs):
            if name in in_columns[i] and name not in keyset:
                c = F.col(f"__in{i}__{name}")
                branches = (
                    F.when(F.col("__tag__") == i, c)
                    if branches is None
                    else branches.when(F.col("__tag__") == i, c)
                )
        if branches is None:
            if name in keyset:
                continue  # key columns are constant within a group
            raise ValueError(f"presort column {name!r} not found in any input")
        presort_exprs.append(
            branches.asc_nulls_last() if asc else branches.desc_nulls_last()
        )
    # NOTE: __tag__ is deliberately NOT a sort key — each side is tag-
    # filtered before use, so within a key group a side's rows are
    # one unbroken run in its own filtered frame regardless of tag interleaving,
    # and the per-side exclusive prefix sums index any (a, b) boundary.
    # One fewer comparison column in the partition sort.
    if key_exprs or presort_exprs:
        combined = combined.sortWithinPartitions(
            *[e.asc_nulls_first() for e in key_exprs], *presort_exprs
        )
    out_cols = [f.name for f in out_schema.fields]
    side_src = [
        [(c if c in keyset else f"__in{i}__{c}") for c in in_columns[i]]
        for i in range(n_inputs)
    ]
    side_fields = [
        [d.schema[c] for c in in_columns[i]] for i, d in enumerate(dfs)
    ]
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_out_schema = to_arrow_schema(out_schema)
    tz = combined.sparkSession.conf.get("spark.sql.session.timeZone", "UTC")
    key_fields = [combined.schema[k] for k in keys]

    # which sides must be non-empty for a group to be emitted — checked on
    # the prefix sums BEFORE any frame is built, so skipped groups cost two
    # array loads, not N frame constructions
    if how == "inner":
        required = range(n_inputs)
    elif how == "left_outer":
        required = (0,)
    elif how == "right_outer":
        required = (n_inputs - 1,)
    else:
        required = ()

    def start(tbl):
        import numpy as np
        import pyarrow as pa

        npart = tbl.num_rows
        # Split by tag ONCE per partition, Arrow-side (C++ filter, then one
        # to_pandas per SIDE — the union frame itself is never converted).
        # The JVM sort is on the keys (+ presort), so after the tag filter
        # a side's rows inside a key group are one run in its own frame;
        # the exclusive prefix-sum of the tag mask maps ANY (a, b) group
        # boundary of the union to that side's slice — O(1) per group.
        # The Arrow filter also makes the dtype story exact: a side's column
        # leaves the union with its original Arrow type, so to_pandas
        # restores the input dtype with no astype pass (NULL padding from
        # other sides is gone before conversion).
        tags = tbl.column("__tag__").to_numpy()
        makers: list[Any] = []
        empties: list[Any] = []
        prefix: list[Any] = []  # side-local exclusive prefix count at tbl pos
        for i in range(n_inputs):
            mask = tags == i
            # select BEFORE filter: pa.Table.select is zero-copy, so the
            # C++ filter kernel only touches this side's columns instead of
            # also copying the other sides' NULL padding
            stbl = tbl.select(side_src[i]).filter(pa.array(mask))
            stbl = stbl.rename_columns(in_columns[i])
            ex = np.zeros(npart + 1, dtype=np.int64)
            np.cumsum(mask, out=ex[1:])
            prefix.append(ex)
            if side_forms[i] == "pa":
                # arrow-annotated side: groups are zero-copy Table.slice
                # views — no pandas construction at all (q21 vs q12)
                makers.append(lambda a, b, _t=stbl: _t.slice(a, b - a))
                empties.append(stbl.slice(0, 0))
            else:
                f = _table_to_pandas(stbl, side_fields[i], tz)
                makers.append(_group_frame_maker(f))
                empties.append(f.iloc[0:0])

        def run(a, b, kv):
            for i in required:
                ex = prefix[i]
                if ex[a] == ex[b]:
                    return None
            frames = []
            for i in range(n_inputs):
                ex = prefix[i]
                sa, sb = ex[a], ex[b]
                frames.append(makers[i](sa, sb) if sb > sa else empties[i])
            return call(frames, kv)

        return run

    def udf(it):
        batcher = _ArrowResultBatcher(out_cols, arrow_out_schema, "cotransform")
        return _run_groups(it, key_fields, tz, start, batcher, wants_kv)

    return combined.mapInArrow(udf, schema=out_schema)


def _infer_keys(dfs: list[DataFrame], spec: PartitionSpec) -> list[str]:
    if spec.by:
        return list(spec.by)
    keys = set(dfs[0].columns)
    for d in dfs[1:]:
        keys &= set(d.columns)
    if not keys:
        raise ValueError("cotransform: no common key columns and no partition.by")
    return [c for c in dfs[0].columns if c in keys]


def cotransform(
    dfs: "list[DataFrame]",
    using: Callable,
    schema: Any = None,
    partition: "PartitionSpec | dict | None" = None,
    how: str = "inner",
    params: "dict | None" = None,
    compile: "bool | str | None" = None,
) -> DataFrame:
    """Zip ``dfs`` on their common (or declared) keys and apply ``using``
    to each aligned key group.

    ``compile`` selects the aggregation trace-compiler: a reducer-shaped
    function compiles to per-side ``groupBy().agg`` joined on the keys —
    no tagged union, no Python workers, each side shuffles only partial
    agg states (see fugue_spark/compile.py). The DEFAULT (``None`` = auto)
    attempts the trace on every inner zip and silently falls back to the
    zip engine when the function is untraceable or the how is non-inner;
    ``compile=False`` opts out (also via env ``FUGUE_SPARK_AUTO_COMPILE=0``);
    ``compile="strict"`` raises instead of falling back.
    """
    if how not in _HOWS:
        raise ValueError(f"how must be one of {_HOWS}, got {how!r}")
    if len(dfs) < 2:
        raise ValueError("cotransform needs at least two dataframes")
    # the tagged union embeds column names in generated identifiers; the
    # reference's schema model (triad) only permits identifier names, so
    # fail fast with a clear message instead of a Catalyst analysis error
    from fugue_spark.transform import _SAFE_NAME_RE

    for d in dfs:
        bad = [c for c in d.columns if not _SAFE_NAME_RE.fullmatch(c)]
        if bad:
            raise ValueError(
                f"cotransform requires identifier column names, got {bad}; "
                "rename() them first"
            )
    spec = partition if isinstance(partition, PartitionSpec) else PartitionSpec(partition)
    if how == "cross":
        # reference zip: cross takes no partition keys; the function is
        # called once with every input in full (execution_engine.py:1020-1029)
        if spec.by:
            raise ValueError("can't specify partition keys for cross zip")
        keys: list = []
    else:
        keys = _infer_keys(dfs, spec)
    if schema is None:
        # decorator-attached schema (@cotransformer("a:int")) or the
        # reference's `# schema:` comment hint
        # (fugue/extensions/cotransformer/convert.py)
        from fugue_spark.transform import _schema_from_comment

        schema = getattr(using, "__fugue_schema__", None)
        if schema is None:
            schema = _schema_from_comment(using)
        if schema is None:
            raise ValueError(
                "cotransform requires an output schema (schema=, "
                "@cotransformer, or '# schema:' hint)"
            )
    out_schema = parse_schema(schema)
    out_cols = [f.name for f in out_schema.fields]
    kwargs = dict(params or {})

    sig_params = list(inspect.signature(using).parameters.values())
    wants_cursor = bool(sig_params) and sig_params[0].name == "cursor"
    data_params = sig_params[1:] if wants_cursor else sig_params
    # extra config parameters are not dataframe slots: anything supplied
    # via params, plus trailing defaulted params beyond the zip width
    # (reference cotransformer convert: only positional df params count)
    data_params = [p for p in data_params if p.name not in kwargs]
    while (
        len(data_params) > len(dfs)
        and data_params
        and data_params[-1].default is not inspect.Parameter.empty
    ):
        data_params.pop()
    n_data = len(data_params)
    if n_data != len(dfs):
        raise ValueError(
            f"function takes {n_data} dataframes but {len(dfs)} were zipped"
        )

    # per-side input form from annotations: a ``pa.Table`` side gets
    # zero-copy Arrow slices, a pandas (or unannotated) side gets pandas
    # frames — sides are independent, so mixed signatures work
    import typing as _typing

    from fugue_spark.transform import _IN_ARROW, _IN_PANDAS, _classify

    try:
        hints = _typing.get_type_hints(using)
    except Exception:
        hints = {}
    side_forms = []
    for p in data_params:
        form = _classify(hints.get(p.name, p.annotation), _IN_PANDAS)
        if form not in (_IN_PANDAS, _IN_ARROW):
            raise ValueError(
                f"cotransform sides must be pd.DataFrame or pa.Table, got {form!r}"
            )
        side_forms.append("pa" if form == _IN_ARROW else "pd")

    def attempt_compile(mode: "bool | str") -> DataFrame:
        from fugue_spark.compile import try_compile_cotransform

        return try_compile_cotransform(
            dfs,
            using,
            keys,
            spec.presort,
            out_schema,
            kwargs,
            wants_cursor,
            how,
            purity_check=(mode == "auto"),
        )

    compiled = _compile_or_fallback(compile, attempt_compile, "zip")
    if compiled is not None:
        return compiled

    dummy_cursor = PartitionCursor(keys, [None] * len(keys), 0)

    def call(frames: "list[Any]", kv: "list[Any] | None") -> Any:
        # returns the RAW user result (dict / DataFrame / iterable) — the
        # _ArrowResultBatcher conforms and batches it; None skips the group.
        # how-based group skipping happens in the per-group builder on the
        # prefix sums, BEFORE frames are built — no len() checks needed here.
        if wants_cursor:
            cursor = dummy_cursor if kv is None else PartitionCursor(keys, kv, 0)
            return using(cursor, *frames, **kwargs)
        return using(*frames, **kwargs)

    return _union_cotransform(
        dfs,
        keys,
        call,
        out_schema,
        wants_kv=wants_cursor,
        side_forms=side_forms,
        presort=spec.presort,
        how=how,
    )
