"""The map engine: ``transform`` / ``out_transform`` — apply a plain Python
function to every logical partition, Spark-natively.

This is the reference's #1 user-facing capability (fugue transform(),
README "the simplest way to use Fugue"; abstract op map_dataframe,
fugue/execution/execution_engine.py:283-315). The "interfaceless" design is
kept: a bare function declares its input/output shape via type annotations
(fugue/dataframe/function_wrapper.py:322-553 registers the same forms) and
its output schema via ``schema=`` or a ``# schema:`` comment hint.

Every call runs on ``df.mapInArrow``, and ``_ArrowResultBatcher`` conforms
every result to the output schema:

* grouped (``partition.by``) and  → place the key groups, one
  ungrouped / coarse                ``sortWithinPartitions`` on keys then
                                    presort, and the grouped executor
                                    (``_run_groups``, shared with
                                    cotransform): it slices each key group
                                    out of the partition by run length; an
                                    ungrouped call is one group holding the
                                    whole physical partition
* ungrouped ``Iterable[...]``     → streamed: the function gets one input
  (no presort, ignore_errors or     per Arrow batch, so it never
  discarded output)                 materializes a whole partition
* arrow-annotated functions       → same paths with no pandas on input;
                                    grouped ones get zero-copy
                                    ``Table.slice`` groups

Presort runs JVM-side in that one partition sort (nulls last, the
pandas na_position='last' convention of take/presort). ``on_init`` fires
once per physical partition; ``ignore_errors`` turns listed exceptions into
empty output for that logical partition (reference: processors.py:330-338).
"""

from __future__ import annotations

import inspect
import itertools
import re
import types as _types
import typing
from collections.abc import Iterable, Iterator
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from fugue_spark.partition import (
    PartitionSpec,
    _nan_safe_key_exprs,
    apply_partition_spec,
)
from fugue_spark.schema import apply_schema_hint, is_schema_hint, parse_schema

__all__ = [
    "transform",
    "out_transform",
    "PartitionCursor",
    "Transformer",
    "EmptyAwareIterable",
    "make_empty_aware",
]


class EmptyAwareIterable:
    """Single-pass iterable that can answer emptiness — and show the first
    element — WITHOUT consuming it (semantics of the reference's
    triad ``EmptyAwareIterable``; dispatch form at ref
    fugue/dataframe/function_wrapper.py:354). Annotate a transformer input
    as ``EmptyAwareIterable[List[Any]]`` (or ``[Dict[str, Any]]``) to get
    rows lazily while still being able to branch on ``.empty`` / ``peek()``
    up front."""

    def __init__(self, it: Iterable):
        self._it = iter(it)
        self._head: Any = None
        self._has_head = False
        self._advance()

    def _advance(self) -> None:
        try:
            self._head = next(self._it)
            self._has_head = True
        except StopIteration:
            self._head, self._has_head = None, False

    @property
    def empty(self) -> bool:
        return not self._has_head

    def peek(self) -> Any:
        if not self._has_head:
            raise StopIteration("the iterable is empty")
        return self._head

    def __iter__(self):
        while self._has_head:
            v = self._head
            self._advance()
            yield v

    # EmptyAwareIterable[List[Any]] in annotations -> GenericAlias whose
    # get_origin() is this class (what _classify dispatches on)
    __class_getitem__ = classmethod(_types.GenericAlias)  # type: ignore[assignment]


def make_empty_aware(it: Iterable) -> EmptyAwareIterable:
    return it if isinstance(it, EmptyAwareIterable) else EmptyAwareIterable(it)


class PartitionCursor:
    """Visible state of the logical partition a function is processing
    (reference: fugue/collections/partition.py:404-469)."""

    def __init__(self, keys: list[str], key_values: list[Any], partition_no: int):
        self.keys = list(keys)
        self.key_values = list(key_values)
        self.partition_no = partition_no

    @property
    def key_value_dict(self) -> dict[str, Any]:
        return dict(zip(self.keys, self.key_values))

    def __getitem__(self, name: str) -> Any:
        # index lookup, not dict construction: cursor[key] runs once per
        # group in keyed transformers — ~0.3µs vs ~1.5µs for dict(zip(...))
        try:
            return self.key_values[self.keys.index(name)]
        except ValueError:
            raise KeyError(name) from None


class Transformer:
    """Class-form transformer (reference: fugue/extensions/transformer/
    transformer.py:8-98). Subclass and override ``transform``; optional
    ``get_output_schema`` / ``on_init``."""

    def get_output_schema(self, input_schema: T.StructType) -> "str | T.StructType":
        raise NotImplementedError

    def on_init(self, input_schema: T.StructType) -> None:
        pass

    def transform(self, df: pd.DataFrame) -> pd.DataFrame:
        raise NotImplementedError

    cursor: PartitionCursor  # set by the runner before each call


_SCHEMA_HINT_RE = re.compile(r"^\s*#\s*schema:\s*(.+)$", re.MULTILINE)
_SAFE_NAME_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _default_compile_mode() -> "str | bool":
    """Resolve the ``compile=None`` default: auto-compile unless the env
    kill-switch ``FUGUE_SPARK_AUTO_COMPILE=0`` is set (read per call so
    tests and operators can flip it at runtime)."""
    import os

    return (
        False
        if os.environ.get("FUGUE_SPARK_AUTO_COMPILE", "1").lower() in ("0", "false", "no")
        else "auto"
    )


def _compile_or_fallback(
    compile: "bool | str | None", attempt: Callable, fallback_path: str
) -> "DataFrame | None":
    """Resolve the ``compile`` mode and return ``attempt(mode)``, the
    trace-compiled plan, or None when the caller should run its Python
    ``fallback_path`` instead.

    An untraceable function (``TraceError``) falls back silently unless
    ``compile="strict"``. Any other exception is a compiler defect, not an
    untraceable function: surface it when the user explicitly asked for
    compilation; for "auto" warn (a silent fallback would hide tracer
    regressions) and fall back, since the Python path must always be able
    to run the call."""
    if compile is None:
        compile = _default_compile_mode()
    if not compile:
        return None
    from fugue_spark.compile import TraceError

    try:
        return attempt(compile)
    except TraceError:
        if compile == "strict":
            raise
    except Exception as exc:
        if compile == "strict" or compile is True:
            raise
        import warnings

        warnings.warn(
            "fugue_spark auto-compile failed unexpectedly "
            f"({type(exc).__name__}: {exc}); falling back to the "
            f"{fallback_path} execution path",
            RuntimeWarning,
            stacklevel=3,
        )
    return None


def _python_stage_partitions(df: DataFrame) -> int:
    """Shuffle partition count for an exchange that feeds a Python stage.

    The count is pinned explicitly: AQE would otherwise coalesce by BYTE
    size, collapsing a python-cost-heavy stage onto one core. Python stages
    are CPU-bound, so parallelism is core-bound, not byte-bound: the count
    is floored at the core count, and a byte-sized shuffle conf
    (tune_for_input on a small input) must not throttle the python
    workers."""
    spark = df.sparkSession
    return max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
        spark.sparkContext.defaultParallelism,
    )


def _schema_from_comment(fn: Callable) -> "str | None":
    """The reference's comment hint: a ``# schema: ...`` line directly above
    the function definition (or inside it)."""
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        return None
    m = _SCHEMA_HINT_RE.search(src)
    if m:
        return m.group(1).strip()
    try:
        lines, lineno = inspect.findsource(fn)
    except (OSError, TypeError):
        return None
    i = lineno - 1  # line above 'def' (findsource lineno is 0-based at def)
    while i >= 0:
        stripped = lines[i].strip()
        if stripped.startswith("#"):
            m = _SCHEMA_HINT_RE.match(lines[i])
            if m:
                return m.group(1).strip()
            i -= 1
        elif stripped == "" or stripped.startswith("@"):
            i -= 1
        else:
            break
    return None


# ---------------------------------------------------------------------------
# annotation classification

_IN_PANDAS, _IN_ITER_PANDAS, _IN_ARROW, _IN_ITER_ARROW = "pd", "ipd", "pa", "ipa"
_IN_LISTS, _IN_ITER_LISTS, _IN_DICTS, _IN_ITER_DICTS = "ll", "ill", "ld", "ild"
_IN_EA_LISTS, _IN_EA_DICTS = "ell", "eld"


_STR_ANN = {
    "pd.DataFrame": _IN_PANDAS,
    "pandas.DataFrame": _IN_PANDAS,
    "DataFrame": _IN_PANDAS,
    "pa.Table": _IN_ARROW,
    "pyarrow.Table": _IN_ARROW,
    "Table": _IN_ARROW,
    "List[List[Any]]": _IN_LISTS,
    "List[Dict[str,Any]]": _IN_DICTS,
    "List[Dict[str, Any]]": _IN_DICTS,
}


def _classify(ann: Any, default: str) -> str:
    if ann is inspect.Parameter.empty or ann is None or ann is Any:
        return default
    if isinstance(ann, str):
        # unresolvable string annotations (PEP 563 with function-local
        # imports): dispatch on the literal text, as the reference's
        # annotation registry does for its common forms
        ann = ann.strip()
        # under PEP 563 a doubly-quoted annotation ("'X[Y]'") keeps its
        # inner quotes in the source text — unwrap matched outer quotes
        while len(ann) >= 2 and ann[0] in "\"'" and ann[-1] == ann[0]:
            ann = ann[1:-1].strip()
        if ann in _STR_ANN:
            return _STR_ANN[ann]
        m = re.fullmatch(r"(?:\w+\.)?EmptyAwareIterable\[(.+)\]", ann)
        if m is not None:
            inner = m.group(1).strip()
            return _IN_EA_DICTS if inner.startswith(("Dict", "dict")) else _IN_EA_LISTS
        m = re.fullmatch(r"(?:typing\.)?(Iterable|Iterator|Generator)\[(.+)\]", ann)
        if m is not None:
            inner = m.group(2).strip()
            if inner in ("pd.DataFrame", "pandas.DataFrame", "DataFrame"):
                return _IN_ITER_PANDAS
            if inner in ("pa.Table", "pyarrow.Table", "Table"):
                return _IN_ITER_ARROW
            if inner.startswith(("Dict", "dict")):
                return _IN_ITER_DICTS
            return _IN_ITER_LISTS
        m = re.fullmatch(r"(?:typing\.)?(?:List|list)\[(.+)\]", ann)
        if m is not None:
            inner = m.group(1).strip()
            return _IN_DICTS if inner.startswith(("Dict", "dict")) else _IN_LISTS
        raise ValueError(f"unsupported transform annotation {ann!r}")
    origin = typing.get_origin(ann)
    args = typing.get_args(ann)
    if ann is pd.DataFrame:
        return _IN_PANDAS
    if ann is pa.Table:
        return _IN_ARROW
    if origin is EmptyAwareIterable or ann is EmptyAwareIterable:
        inner = args[0] if args else None
        if typing.get_origin(inner) in (dict, typing.Dict) or inner is dict:
            return _IN_EA_DICTS
        return _IN_EA_LISTS
    if origin in (list, typing.List):
        if args and typing.get_origin(args[0]) in (list, typing.List):
            return _IN_LISTS
        if args and typing.get_origin(args[0]) in (dict, typing.Dict):
            return _IN_DICTS
        if args and args[0] in (list, dict):
            return _IN_LISTS if args[0] is list else _IN_DICTS
        return _IN_LISTS
    if origin in (Iterable, typing.Iterable, typing.Iterator) or (
        origin is not None and origin.__name__ in ("Iterable", "Iterator", "Generator")
    ):
        inner = args[0] if args else None
        if inner is pd.DataFrame:
            return _IN_ITER_PANDAS
        if inner is pa.Table:
            return _IN_ITER_ARROW
        inner_origin = typing.get_origin(inner)
        if inner_origin in (dict, typing.Dict) or inner is dict:
            return _IN_ITER_DICTS
        return _IN_ITER_LISTS
    raise ValueError(f"unsupported transform annotation {ann!r}")


def _to_input(pdf: pd.DataFrame, form: str) -> Any:
    if form == _IN_PANDAS:
        return pdf
    if form == _IN_ITER_PANDAS:
        return iter([pdf])
    if form == _IN_LISTS:
        return pdf.values.tolist()
    if form == _IN_ITER_LISTS:
        return iter(pdf.values.tolist())
    if form == _IN_DICTS:
        return pdf.to_dict("records")
    if form == _IN_ITER_DICTS:
        return iter(pdf.to_dict("records"))
    if form == _IN_EA_LISTS:
        return make_empty_aware(iter(pdf.values.tolist()))
    if form == _IN_EA_DICTS:
        return make_empty_aware(iter(pdf.to_dict("records")))
    raise AssertionError(form)


def _expand_dict_result(res: dict, nested_cols: "set[str]") -> "dict | pd.DataFrame":
    """dict results are ONE row — unless a value is array-like AND its
    declared output column is scalar-typed, which is the dict-of-arrays
    multi-row form (one row per element, scalar values broadcast; the
    pandas twin of the compiled window shape). Values aimed at
    array/struct/map columns (``nested_cols``) never trigger expansion; in
    a multi-row result they are CELLS, repeated onto every row."""
    listy = (list, tuple, np.ndarray, pd.Series)
    arrays = [k for k, v in res.items() if isinstance(v, listy) and k not in nested_cols]
    if not arrays:
        return res
    n = len(res[arrays[0]])
    out = {}
    for k, v in res.items():
        if k in nested_cols and isinstance(v, listy):
            # nested-typed column in a multi-row result: a sequence OF
            # sequences matching the row count is per-row cells; anything
            # else (a flat array) is ONE cell repeated onto every row
            if len(v) == n and all(isinstance(x, listy) for x in v):
                out[k] = pd.Series([list(x) for x in v], dtype=object)
            else:
                out[k] = pd.Series([list(v)] * n, dtype=object)
        else:
            out[k] = v  # expanding array, or scalar broadcast by pandas
    return pd.DataFrame(out)


def _conform(pdf: pd.DataFrame, out_cols: list[str], name: str) -> pd.DataFrame:
    if list(pdf.columns) == out_cols:
        return pdf
    if all(isinstance(c, str) for c in pdf.columns) and set(out_cols) <= set(pdf.columns):
        return pdf[out_cols]
    if len(pdf.columns) == len(out_cols):
        pdf = pdf.copy()
        pdf.columns = out_cols
        return pdf
    raise ValueError(
        f"{name}: output columns {list(pdf.columns)} do not match schema {out_cols}"
    )


def _resolve_fn(using: Any) -> tuple[Any, "str | None", bool]:
    """→ (callable-or-instance, attached-or-comment schema, is_class)."""
    if isinstance(using, type) and issubclass(using, Transformer):
        return using(), None, True
    if isinstance(using, Transformer):
        return using, None, True
    # OutputTransformer class forms (reference: transformer.py
    # OutputTransformer — override process(); output is discarded)
    from fugue_spark.extensions import OutputTransformer as _OT

    if isinstance(using, type) and issubclass(using, _OT):
        using = using()
    if isinstance(using, _OT):
        return using.process, None, False
    if callable(using):
        attached = getattr(using, "__fugue_schema__", None)
        return (
            using,
            attached if attached is not None else _schema_from_comment(using),
            False,
        )
    raise ValueError(f"cannot use {using!r} as a transformer")


def _output_schema(
    using: Any, schema: Any, comment: "str | None", input_schema: T.StructType
) -> T.StructType:
    s = schema if schema is not None else comment
    if s is None and isinstance(using, Transformer):
        s = using.get_output_schema(input_schema)
    if s is None:
        raise ValueError("transform requires an output schema (schema= or '# schema:' hint)")
    if isinstance(s, T.StructType):
        return s
    s = str(s)
    if is_schema_hint(s):
        return apply_schema_hint(s, input_schema)
    return parse_schema(s)


def _check_validations(rules: "dict | None", df: DataFrame, spec: PartitionSpec) -> None:
    """Extension validation rules (reference: fugue/extensions/_utils.py,
    exercised at builtin_suite.py:1403-1534): declare what partitioning /
    input schema a transformer requires; violations fail fast on the
    driver before any job is launched."""
    if not rules:
        return
    presort_names = [n for n, _ in spec.presort]
    presort_full = [f"{n} {'asc' if a else 'desc'}" for n, a in spec.presort]
    for rule, want in rules.items():
        want_list = [want] if isinstance(want, str) else list(want)
        if rule == "partitionby_has":
            missing = [w for w in want_list if w not in spec.by]
            if missing:
                raise ValueError(f"partition keys must include {missing}, got {spec.by}")
        elif rule == "partitionby_is":
            if sorted(spec.by) != sorted(want_list):
                raise ValueError(f"partition keys must be {want_list}, got {spec.by}")
        elif rule == "presort_has":
            norm = [w.strip().lower() if " " in w else f"{w} asc" for w in want_list]
            missing = [w for w in norm if w not in presort_full and w.split()[0] not in presort_names]
            if missing:
                raise ValueError(f"presort must include {missing}, got {presort_full}")
        elif rule == "presort_is":
            norm = [w.strip().lower() if " " in w.strip() else f"{w.strip()} asc" for w in want_list]
            if norm != presort_full:
                raise ValueError(f"presort must be {norm}, got {presort_full}")
        elif rule == "input_has":
            missing = [w for w in want_list if w.split(":")[0] not in df.columns]
            if missing:
                raise ValueError(f"input must contain columns {missing}")
        elif rule == "input_is":
            from fugue_spark.schema import parse_schema, schema_to_string

            want_schema = schema_to_string(parse_schema(",".join(want_list)))
            got = schema_to_string(df.schema)
            if want_schema != got:
                raise ValueError(f"input schema must be {want_schema}, got {got}")
        else:
            raise ValueError(f"unknown validation rule {rule!r}")


def _needs_pandas_conv(dt: T.DataType) -> bool:
    """Fields whose ``pyarrow.Table.to_pandas`` output differs from pyspark's
    pandas-UDF conversion semantics (tz localization, map→dict, struct
    field handling) and need the pyspark converter applied."""
    return isinstance(dt, (T.TimestampType, T.StructType, T.MapType)) or (
        isinstance(dt, T.ArrayType) and _needs_pandas_conv(dt.elementType)
    )


def _table_to_pandas(tbl: pa.Table, fields: list, tz: str) -> pd.DataFrame:
    """One whole-partition Arrow→pandas conversion with pyspark's
    pandas-UDF semantics (serializers.py arrow_to_pandas): date_as_object,
    nanosecond coercion, and — only for the fields that need it — the
    pyspark per-column converter (maps become dicts, tz-aware timestamps
    localize). Converting once per partition instead of once per Arrow
    batch removes the per-batch conversion + pd.concat the pandas
    serializer pays, and yields a consolidated frame (fast block slicing).
    """
    pdf = tbl.to_pandas(date_as_object=True, coerce_temporal_nanoseconds=True)
    for i, f in enumerate(fields):
        if _needs_pandas_conv(f.dataType):
            from pyspark.sql.pandas.types import _create_converter_to_pandas

            conv = _create_converter_to_pandas(
                f.dataType,
                nullable=True,
                timezone=tz,
                struct_in_pandas="dict",
                error_on_duplicated_field_names=True,
                ndarray_as_list=False,
            )
            pdf.isetitem(i, conv(pdf.iloc[:, i]))
    return pdf


class _LazyColCache(dict):
    """Drop-in ``DataFrame._item_cache`` that builds column Series lazily as
    zero-copy slices of the PARENT partition frame's column arrays.

    pandas' own column access (``pdf.x`` / ``pdf['x']``) goes
    ``__getattr__ → __getitem__ → _get_item_cache → _ixs → _box_col_values``
    — ~50µs per cold access, which dominates small-group transformer
    workloads (75% of worker CPU on the q11 profile). ``_get_item_cache``
    consults ``self._item_cache.get(item)`` first, so a cache whose ``get``
    *constructs* the Series on demand short-circuits the whole chain —
    and ``_FastGroupFrame`` consults it even earlier, straight from
    ``__getattr__``. The Series is hand-assembled (block + bare
    SingleBlockManager) rather than via ``mgr.get_slice`` — ~3.8µs vs
    ~5.6µs per cold access, measured — and only for columns the user
    function touches.

    Mutation safety: every pandas mutation path invalidates the item cache
    through ``clear`` / ``pop`` / ``del`` (frame.py:4624, 4576;
    generic.py:4511 in pandas 2.2) — each flips ``dead`` here, after which
    ``get`` behaves like a plain dict and pandas rebuilds Series from the
    group frame's own (current) blocks. Under copy-on-write pandas bypasses
    the item cache entirely, so this class is inert-but-harmless there.
    """

    __slots__ = ("data", "a", "b", "ridx", "bp", "dead")

    def __init__(self, data: dict, a: int, b: int, ridx, bp):
        super().__init__()
        self.data = data  # {col: (parent values array, block type, SBM type)}
        self.a = a
        self.b = b
        self.ridx = ridx
        self.bp = bp  # BlockPlacement(0..len) shared per group length
        self.dead = False

    def get(self, key, default=None):
        res = dict.get(self, key, None)
        if res is not None or self.dead:
            return res if res is not None else default
        cd = self.data.get(key)
        if cd is None:
            return default
        arr, blk_type, sbm_type = cd
        block = blk_type(arr[self.a : self.b], placement=self.bp, ndim=1)
        sm = sbm_type.__new__(sbm_type)
        sm.axes = [self.ridx]
        sm.blocks = (block,)
        s = pd.Series._from_mgr(sm, axes=sm.axes)
        object.__setattr__(s, "_name", key)
        dict.__setitem__(self, key, s)
        return s

    def clear(self):
        self.dead = True
        dict.clear(self)

    def pop(self, key, *default):
        self.dead = True
        return dict.pop(self, key, *default)

    def __delitem__(self, key):
        self.dead = True
        dict.__delitem__(self, key)


class _FastGroupFrame(pd.DataFrame):
    """Group-frame subclass that serves column access straight from the
    lazy column cache, skipping pandas' ``__getattr__ → __getitem__ →
    _get_item_cache`` ceremony (~2.5µs of pure dispatch per cold access on
    top of Series construction; 4 accesses/group on the q11 profile).

    Any operation that *derives* a new object returns a plain
    ``pd.DataFrame``/``pd.Series`` (``_constructor``), so the fast path
    lives exactly as long as the group frame itself. Falls back to stock
    pandas behavior whenever the cache is dead (mutation) or the name is
    not a column."""

    @property
    def _constructor(self):
        return pd.DataFrame

    @property
    def _constructor_sliced(self):
        return pd.Series

    def __getattr__(self, name):
        c = self._item_cache
        if type(c) is _LazyColCache:
            s = c.get(name)
            if s is not None:
                return s
        return super().__getattr__(name)

    def __getitem__(self, key):
        if type(key) is str:
            c = self._item_cache
            if type(c) is _LazyColCache:
                s = c.get(key)
                if s is not None:
                    return s
        return super().__getitem__(key)


def _group_frame_maker(pdf: pd.DataFrame):
    """Per-group frame factory: direct block row-slices — the same zero-copy
    views ``iloc`` produces, minus the indexing machinery — plus a lazy
    column cache (see _LazyColCache) so the user function's column accesses
    skip pandas' Series-boxing chain. Together ~35% off per-group worker
    cost on small groups vs plain ``iloc`` (q11 profile, pinned core).
    Verifies one group against ``iloc`` at build time and falls back to
    ``iloc`` if pandas internals move."""
    try:
        from pandas._libs.internals import BlockPlacement
        from pandas.core.internals.managers import BlockManager, SingleBlockManager

        mgr = pdf._mgr
        blocks = tuple(mgr.blocks)
        cols = pdf.columns
        from_mgr = _FastGroupFrame._from_mgr
        bm_new = BlockManager.__new__
        col_data = {}
        for c in cols:
            cm = pdf[c]._mgr  # SingleBlockManager (unique columns only)
            blk = cm.blocks[0]
            col_data[c] = (blk.values, type(blk), SingleBlockManager)
        idx_cache: dict[int, tuple] = {}

        def make(a: int, b: int) -> pd.DataFrame:
            L = b - a
            cached = idx_cache.get(L)
            if cached is None:
                cached = (pd.RangeIndex(L), BlockPlacement(slice(0, L)))
                idx_cache[L] = cached
            ridx, bp = cached
            sl = slice(a, b)
            bm = bm_new(BlockManager)
            bm.axes = [cols, ridx]
            bm.blocks = tuple(blk.slice_block_rows(sl) for blk in blocks)
            df = from_mgr(bm, axes=bm.axes)
            df._item_cache = _LazyColCache(col_data, a, b, ridx, bp)
            return df

        # smoke-verify one group against the public API before trusting it
        if len(pdf):
            n = min(2, len(pdf))
            got, want = make(0, n), pdf.iloc[0:n].reset_index(drop=True)
            assert list(got.columns) == list(want.columns)
            assert got.dtypes.equals(want.dtypes)
            assert all(got[c].equals(want[c]) for c in got.columns)
        return make
    except Exception:  # pragma: no cover - pandas-internals fallback
        return lambda a, b: pdf.iloc[a:b]


def _group_bounds(tbl: pa.Table, key_fields: list, tz: str):
    """Run-length group bounds + per-key value arrays over a partition whose
    key groups are unbroken runs (the engine's ``sortWithinPartitions``
    guarantees it): one diff per key finds every group in O(n), with no
    pandas groupby and no per-group index construction. Returns
    ``(bounds, key_arrays)``; group ``g`` is rows ``bounds[g]:bounds[g+1]``.

    Null-free integer/bool keys (the overwhelmingly common case for
    join/group keys) are read straight from Arrow: the raw values ARE valid
    run codes, so the key columns never become pandas. Any other key type
    converts the key columns with pyspark's pandas semantics and
    factorizes them: this is the one place that keeps the NaN-is-a-key
    contract (float NaN and NULL become ONE code) and makes
    objects/strings comparable. With no keys the whole partition is one
    group."""
    if not key_fields:
        return np.array([0, tbl.num_rows]), []
    keys = [f.name for f in key_fields]
    cols = [tbl.column(k) for k in keys]
    if all(
        c.null_count == 0 and (pa.types.is_integer(c.type) or pa.types.is_boolean(c.type))
        for c in cols
    ):
        key_arrays = [c.to_numpy(zero_copy_only=False) for c in cols]
        codes = key_arrays
    else:
        kpdf = _table_to_pandas(tbl.select(keys), key_fields, tz)
        key_arrays = [kpdf[k].to_numpy() for k in keys]
        codes = [
            a if a.dtype.kind in "iub" else pd.factorize(a, use_na_sentinel=False)[0]
            for a in key_arrays
        ]
    diff = None
    for c in codes:
        d = c[1:] != c[:-1]
        diff = d if diff is None else (diff | d)
    bounds = np.flatnonzero(np.r_[True, diff, True]) if tbl.num_rows else np.array([0])
    return bounds, key_arrays


class _ArrowResultBatcher:
    """Accumulate per-group transformer results and flush as few, large
    Arrow RecordBatches — no pandas on the output boundary for the common
    result forms. dict results (the cheap output form) go straight to
    ``pa.Table.from_pylist`` against the output schema (~4× cheaper than
    building a pandas frame and letting the serializer re-convert it);
    pa.Table results are conformed and cast Arrow-side; pandas results and
    row iterables take one ``from_pandas`` each. An iterator of frames
    (pandas, Table or RecordBatch) streams: each item is added on its own,
    so an Arrow stream never converts to pandas or collects into a list.

    Flushing is bounded by buffered rows as well as result count (user
    functions returning large per-group frames don't multiply peak
    executor memory). Output row order within a flush groups dict-rows
    before other results; the engine's output order is unspecified.
    """

    def __init__(
        self,
        out_cols: list[str],
        arrow_schema: "pa.Schema",
        name: str,
        safe_names: "list[str] | None" = None,
        chunk: int = 1024,
        row_chunk: int = 65536,
    ):
        self.out_cols = out_cols
        self.schema = arrow_schema  # fields carry the USER-visible names
        self.safe_names = safe_names  # exec-plan names, if they differ
        self.name = name
        self.chunk = chunk
        self.row_chunk = row_chunk
        self.nested_cols = {
            f.name
            for f in arrow_schema
            if pa.types.is_list(f.type)
            or pa.types.is_large_list(f.type)
            or pa.types.is_fixed_size_list(f.type)
            or pa.types.is_struct(f.type)
            or pa.types.is_map(f.type)
        }
        self.dicts: list[dict] = []
        self.tables: list[pa.Table] = []
        self.n = 0
        self.rows = 0

    def _conform_arrow(self, t: pa.Table) -> pa.Table:
        if t.column_names != self.out_cols:
            if set(self.out_cols) <= set(t.column_names):
                t = t.select(self.out_cols)
            elif len(t.column_names) == len(self.out_cols):
                t = t.rename_columns(self.out_cols)
            else:
                raise ValueError(
                    f"{self.name}: output columns {t.column_names} do not "
                    f"match schema {self.out_cols}"
                )
        if t.schema != self.schema:
            t = t.cast(self.schema)
        return t

    def add(self, res: Any) -> "Iterable[pa.RecordBatch] | None":
        if res is None:
            return None
        if isinstance(res, dict):
            # dict-of-arrays (schema-aware, see _expand_dict_result): one
            # output row per element, scalars broadcast; array cells aimed
            # at array-typed columns stay single-row
            if any(
                isinstance(v, (pa.Array, pa.ChunkedArray)) and k not in self.nested_cols
                for k, v in res.items()
            ):
                res = {
                    k: (v.to_pandas() if isinstance(v, (pa.Array, pa.ChunkedArray)) else v)
                    for k, v in res.items()
                }
            res = _expand_dict_result(res, self.nested_cols)
        if isinstance(res, dict):
            self.dicts.append(res)
            self.rows += 1
        elif isinstance(res, pa.Table):
            if res.num_rows == 0:
                return None
            self.tables.append(self._conform_arrow(res))
            self.rows += res.num_rows
        elif isinstance(res, pa.RecordBatch):
            if res.num_rows == 0:
                return None
            self.tables.append(self._conform_arrow(pa.Table.from_batches([res])))
            self.rows += res.num_rows
        else:
            if not isinstance(res, pd.DataFrame):
                if not isinstance(res, Iterable):
                    raise ValueError(f"unsupported {self.name} output {type(res)}")
                it = iter(res)
                first = next(it, None)
                if first is None:
                    return None
                if isinstance(first, (pd.DataFrame, pa.Table, pa.RecordBatch)):
                    return self._add_each(itertools.chain([first], it))
                res = pd.DataFrame([first, *it], columns=self.out_cols)
            pdf = _conform(res, self.out_cols, self.name)
            if len(pdf) == 0:
                return None
            self.tables.append(
                pa.Table.from_pandas(pdf, schema=self.schema, preserve_index=False)
            )
            self.rows += len(pdf)
        self.n += 1
        if self.n >= self.chunk or self.rows >= self.row_chunk:
            return self.flush()
        return None

    def _add_each(self, frames: Iterable) -> "Iterable[pa.RecordBatch]":
        for frame in frames:
            out = self.add(frame)
            if out is not None:
                yield from out

    def flush(self) -> "list[pa.RecordBatch] | None":
        if self.n == 0:
            return None
        parts = []
        if self.dicts:
            parts.append(pa.Table.from_pylist(self.dicts, schema=self.schema))
            self.dicts = []
        parts.extend(self.tables)
        self.tables = []
        self.n = 0
        self.rows = 0
        if not parts:
            return None
        out = parts[0] if len(parts) == 1 else pa.concat_tables(parts)
        if out.num_rows == 0:
            return None
        if self.safe_names is not None:
            out = out.rename_columns(self.safe_names)
        return out.to_batches()


def _run_groups(
    batches: "Iterable[pa.RecordBatch]",
    key_fields: list,
    tz: str,
    start: Callable,
    batcher: _ArrowResultBatcher,
    needs_kv: bool,
) -> "Iterable[pa.RecordBatch]":
    """The grouped executor behind ``transform`` and ``cotransform``: one
    Arrow stream per shuffle partition, whose key groups arrive as
    unbroken runs (the engine's partition sort). Assembles the partition,
    finds the runs, and feeds each group's raw result to ``batcher``.

    ``start(tbl)`` runs once per non-empty partition and returns the
    caller's per-group input builder ``run(a, b, kv)``: the raw user result
    for rows ``[a, b)``, or None to skip the group. ``kv`` holds the group's
    key values (float NaN normalized to None, the pandas view of a NULL
    key), or is None when ``needs_kv`` is false — skipping that extraction
    saves ~5µs/group. The whole partition stays in worker memory until its
    last group has run."""
    it = iter(batches)
    first = next(it, None)
    if first is None:
        return
    tbl = pa.Table.from_batches(list(itertools.chain([first], it)))
    if tbl.num_rows == 0:
        return
    run = start(tbl)
    bounds, key_arrays = _group_bounds(tbl, key_fields, tz)
    for a, b in zip(bounds[:-1], bounds[1:]):
        kv = (
            [
                None if isinstance(v, float) and pd.isna(v) else v
                for v in (arr[a] for arr in key_arrays)
            ]
            if needs_kv
            else None
        )
        out = batcher.add(run(a, b, kv))
        if out is not None:
            yield from out
    out = batcher.flush()
    if out is not None:
        yield from out


def transform(
    df: DataFrame,
    using: Any,
    schema: Any = None,
    partition: "PartitionSpec | dict | int | str | None" = None,
    params: "dict | None" = None,
    ignore_errors: "tuple | list" = (),
    on_init: "Callable[[], None] | None" = None,
    discard_output: bool = False,
    callback: "Callable | None" = None,
    validations: "dict | None" = None,
    compile: "bool | str | None" = None,
) -> DataFrame:
    """Apply ``using`` to every logical partition of ``df``.

    ``compile`` selects the aggregation trace-compiler: the function is
    executed once with symbolic inputs, and if it reduces to a dict of
    aggregation expressions the whole transform runs as a native
    ``groupBy().agg`` (whole-stage codegen, map-side partial aggregation —
    no Python workers). The DEFAULT (``None`` = auto) attempts the trace on
    every grouped call and silently falls back to the pandas path whenever
    the function is untraceable (value-dependent branches, side effects,
    unsupported ops) — zero user-code change, the compiled plan when it is
    provably equivalent, the pandas plan otherwise. ``compile=False`` opts
    out entirely (and is honored globally via env
    ``FUGUE_SPARK_AUTO_COMPILE=0``); ``compile="strict"`` raises instead of
    falling back; ``compile=True`` additionally allows keyless functions to
    compile as GLOBAL aggregations (auto refuses those: the pandas result
    there is one row per physical partition). See fugue_spark/compile.py
    for the traceable surface.

    Scale posture: grouped path is one hash exchange on the keys (or the
    requested algo's placement) plus one partition sort; the worker holds
    the WHOLE shuffle partition in memory while it runs the groups, so its
    memory is bounded by partition size (set it with ``num``), and grouped
    ``Iterable[...]`` forms do not stream: each group arrives whole.
    Ungrouped calls are shuffle-free (unless ``num``/``algo`` asks for
    placement) and run on the same executor with the whole physical
    partition as one group. Only ungrouped ``Iterable[pd.DataFrame]`` /
    ``Iterable[pa.Table]`` functions without presort, ``ignore_errors`` or
    discarded output stream: they see Arrow-sized batches, so worker
    memory is bounded by batch size, not partition size.

    Group-frame contract: frames handed to the function are zero-copy
    slices of the partition block with a fresh zero-based RangeIndex.
    Prefer POSITIONAL access (``.iloc``, ``.values``); mutating a group
    frame in place writes through to the partition buffer (copy first if
    the function both mutates and re-reads other groups' data).
    """
    spec = partition if isinstance(partition, PartitionSpec) else PartitionSpec(partition)
    fn, comment_schema, is_class = _resolve_fn(using)
    _check_validations(
        validations if validations is not None else getattr(fn, "validations", None),
        df,
        spec,
    )
    out_schema = _output_schema(fn, schema, comment_schema, df.schema)
    out_cols = [f.name for f in out_schema.fields]
    kwargs = dict(params or {})
    err_types = tuple(ignore_errors)
    if callback is not None:
        # driver-side handler, picklable stub into the worker closure
        from fugue_spark.rpc import start_callback_server

        kwargs["callback"] = start_callback_server(callback)

    if is_class:
        inst = fn
        in_form = _IN_PANDAS
        if "callback" in kwargs:
            inst.callback = kwargs.pop("callback")

        def call(pdf: pd.DataFrame, cursor: PartitionCursor) -> pd.DataFrame:
            inst.cursor = cursor
            return inst.transform(pdf)

        init_fn = inst.on_init
    else:
        sig = inspect.signature(fn)
        sig_params = list(sig.parameters.values())
        wants_cursor = bool(sig_params) and sig_params[0].name == "cursor"
        data_param = sig_params[1] if wants_cursor else (sig_params[0] if sig_params else None)
        if data_param is None:
            raise ValueError("transformer function needs a data parameter")
        try:
            hints = typing.get_type_hints(fn)
        except Exception:
            hints = {}
        in_form = _classify(hints.get(data_param.name, data_param.annotation), _IN_PANDAS)

        def call(data: Any, cursor: PartitionCursor) -> Any:
            if wants_cursor:
                return fn(cursor, data, **kwargs)
            return fn(data, **kwargs)

        init_fn = (lambda _schema: on_init()) if on_init is not None else None

    presort = spec.presort
    keys = list(spec.by)
    input_schema = df.schema

    # pyspark's Python-UDF entry points cannot resolve exotic field names
    # (e.g. a literal '.'); run the exchange under safe aliases and restore
    # the user-visible names at both Arrow boundaries.
    orig_in = list(df.columns)
    safe_in = [
        c if _SAFE_NAME_RE.fullmatch(c) else f"__fugue_in_{i}__"
        for i, c in enumerate(orig_in)
    ]
    rename_in = safe_in != orig_in
    safe_out = [
        c if _SAFE_NAME_RE.fullmatch(c) else f"__fugue_out_{i}__"
        for i, c in enumerate(out_cols)
    ]
    rename_out = safe_out != out_cols
    if rename_in:
        df = df.toDF(*safe_in)
    name_to_safe = dict(zip(orig_in, safe_in))
    exec_schema = (
        T.StructType(
            [T.StructField(s, f.dataType, True) for s, f in zip(safe_out, out_schema.fields)]
        )
        if rename_out
        else out_schema
    )

    init_state: list[bool] = []  # once per python worker (≈ physical partition)

    def maybe_init() -> None:
        if init_fn is not None and not init_state:
            init_state.append(True)
            init_fn(input_schema)

    def _partition_no() -> int:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        return ctx.partitionId() if ctx is not None else 0

    safe_keys = [name_to_safe[k] for k in keys]

    def attempt_compile(mode: "bool | str") -> DataFrame:
        from fugue_spark.compile import TraceError, try_compile_aggregation

        if is_class:
            raise TraceError("class transformers are not traceable")
        if err_types or init_fn is not None or discard_output or "callback" in kwargs:
            raise TraceError("compile is incompatible with ignore_errors/on_init/callback")
        return try_compile_aggregation(
            df,
            fn,
            keys,
            presort,
            out_schema,
            kwargs,
            wants_cursor,
            name_to_safe,
            in_schema=input_schema,
            allow_ungrouped_agg=(mode != "auto"),
            purity_check=(mode == "auto"),
        )

    compiled = _compile_or_fallback(compile, attempt_compile, "pandas")
    if compiled is not None:
        return compiled

    # every logical partition must reach the python side as ONE unbroken
    # run: place the groups, then one partition-level sort on the NaN-safe
    # keys and the presort (nulls-last on data columns = the pandas
    # na_position="last" contract of the reference), so the python side
    # finds groups by run length and never sorts. An ungrouped call is one
    # group: the whole physical partition.
    key_exprs = _nan_safe_key_exprs(df, safe_keys)
    if keys and spec.algo in ("default", "hash"):
        # co-locate each key group via one hash exchange and run a whole
        # partition per Arrow stream: 10-50× faster than
        # groupBy().applyInPandas when groups are small (one JVM↔Python
        # round trip per PARTITION instead of per GROUP)
        num = spec.resolve_num(df)
        df = df.repartition(num if num > 0 else _python_stage_partitions(df), *key_exprs)
    else:
        df = apply_partition_spec(df, PartitionSpec(by=safe_keys, num=spec.num, algo=spec.algo))
    if keys or presort:
        from pyspark.sql import functions as F

        df = df.sortWithinPartitions(
            *[e.asc_nulls_first() for e in key_exprs],
            *[
                F.col(name_to_safe[n]).asc_nulls_last()
                if asc
                else F.col(name_to_safe[n]).desc_nulls_last()
                for n, asc in presort
            ],
        )

    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_out_schema = to_arrow_schema(out_schema)  # user-visible names
    batcher_safe = safe_out if rename_out else None
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "UTC")
    in_fields = list(df.schema.fields)  # safe names, orig order/types
    key_fields = [df.schema[k] for k in safe_keys]

    def new_batcher() -> _ArrowResultBatcher:
        return _ArrowResultBatcher(out_cols, arrow_out_schema, "transform", safe_names=batcher_safe)

    if (
        not keys
        and not is_class
        and in_form in (_IN_ITER_PANDAS, _IN_ITER_ARROW)
        and not presort
        and not err_types
        and not discard_output
    ):
        # ungrouped Iterable[...] forms stream: the function gets one input
        # per Arrow batch, so worker memory is bounded by batch size
        def stream_udf(it: "Iterable[pa.RecordBatch]") -> "Iterable[pa.RecordBatch]":
            it = iter(it)
            first = next(it, None)
            if first is None:
                return  # skip empty physical partitions (reference behavior)
            maybe_init()
            data: Any = (pa.Table.from_batches([b]) for b in itertools.chain([first], it))
            if rename_in:
                data = (t.rename_columns(orig_in) for t in data)
            if in_form == _IN_ITER_PANDAS:
                data = (_table_to_pandas(t, in_fields, tz) for t in data)
            batcher = new_batcher()
            out = batcher.add(call(data, PartitionCursor([], [], _partition_no())))
            if out is not None:
                yield from out
            out = batcher.flush()
            if out is not None:
                yield from out

        res = df.mapInArrow(stream_udf, schema=exec_schema)
        return res.toDF(*out_cols) if rename_out else res

    # arrow-annotated functions skip pandas entirely: each group is a
    # zero-copy Table.slice
    arrow_in = not is_class and in_form in (_IN_ARROW, _IN_ITER_ARROW)
    # class transformers read inst.cursor; bare functions only need the
    # per-group kv extraction if they declared a cursor parameter
    needs_cursor = is_class or wants_cursor
    # ignore_errors must also catch what a lazy result raises as it is
    # consumed, and discarded output must still run the function's side
    # effects: materialize iterator results inside the try
    eager = bool(err_types) or discard_output

    def start(tbl: pa.Table) -> Callable:
        maybe_init()
        pno = _partition_no()
        if rename_in:
            tbl = tbl.rename_columns(orig_in)
        if not arrow_in:
            make_group = _group_frame_maker(_table_to_pandas(tbl, in_fields, tz))

        def run(a: int, b: int, kv: "list | None") -> Any:
            if arrow_in:
                data = tbl.slice(a, b - a)
                if in_form == _IN_ITER_ARROW:
                    data = iter([data])
            else:
                data = _to_input(make_group(a, b), in_form)
            try:
                res = call(data, None if kv is None else PartitionCursor(keys, kv, pno))
                if eager and isinstance(res, Iterator):
                    res = list(res)
            except err_types:
                return None
            return None if discard_output else res

        return run

    def grouped_udf(it: "Iterable[pa.RecordBatch]") -> "Iterable[pa.RecordBatch]":
        return _run_groups(it, key_fields, tz, start, new_batcher(), needs_cursor)

    res = df.mapInArrow(grouped_udf, schema=exec_schema)
    return res.toDF(*out_cols) if rename_out else res


def out_transform(
    df: DataFrame,
    using: Any,
    partition: "PartitionSpec | dict | int | str | None" = None,
    params: "dict | None" = None,
    ignore_errors: "tuple | list" = (),
    on_init: "Callable[[], None] | None" = None,
) -> None:
    """Run a transformer for its side effects, eagerly, discarding output
    (reference: workflow.py:570 out_transform; output schema is a dummy)."""
    res = transform(
        df,
        using,
        schema="__dummy__:int",
        partition=partition,
        params=params,
        ignore_errors=ignore_errors,
        on_init=on_init,
        discard_output=True,
    )
    res.count()
