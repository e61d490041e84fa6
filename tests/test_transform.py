"""Map-engine tests, modeled on the reference's builtin/execution suites
(transformer forms, schema hints, presort, ignore_errors, cotransform)."""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any, Iterator

import pandas as pd
import pyarrow as pa
import pytest

import fugue_spark.api as fa
from fugue_spark.schema import parse_schema


def make_df(spark, data, schema):
    return spark.createDataFrame(data, parse_schema(schema))


def rows(df):
    return sorted([tuple(r) for r in df.collect()], key=lambda t: tuple(map(str, t)))


def test_transform_pandas_identity_plus(spark):
    df = make_df(spark, [[1, 2], [3, 4]], "a:int,b:int")

    def add_col(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.assign(c=pdf.a + pdf.b)

    res = fa.transform(df, add_col, schema="*,c:int")
    assert res.columns == ["a", "b", "c"]
    assert rows(res) == [(1, 2, 3), (3, 4, 7)]


def test_transform_schema_comment_hint(spark):
    df = make_df(spark, [[1, 2], [3, 4]], "a:int,b:int")

    # schema: *,doubled:long
    def doubler(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.assign(doubled=pdf.b * 2)

    res = fa.transform(df, doubler)
    assert res.columns == ["a", "b", "doubled"]
    assert rows(res) == [(1, 2, 4), (3, 4, 8)]


def test_transform_drop_column_hint(spark):
    df = make_df(spark, [[1, 2]], "a:int,b:int")
    res = fa.transform(df, lambda pdf: pdf[["a"]], schema="*-b")
    assert rows(res) == [(1,)]


def test_transform_iterable_pandas_streaming(spark):
    df = make_df(spark, [[i] for i in range(100)], "a:int")

    def batched(dfs: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in dfs:
            yield pdf[pdf.a % 2 == 0]

    res = fa.transform(df, batched, schema="*")
    assert len(rows(res)) == 50


def test_transform_arrow(spark):
    df = make_df(spark, [[1, 2], [3, 4]], "a:int,b:int")

    def at(t: pa.Table) -> pa.Table:
        return t.append_column("s", pa.compute.add(t["a"], t["b"]).cast(pa.int64()))

    res = fa.transform(df, at, schema="*,s:long")
    assert rows(res) == [(1, 2, 3), (3, 4, 7)]


def test_transform_list_and_dict_forms(spark):
    df = make_df(spark, [[1, 2], [3, 4]], "a:int,b:int")

    def as_lists(data: list[list[Any]]) -> list[list[Any]]:
        return [[r[0] + r[1]] for r in data]

    res = fa.transform(df, as_lists, schema="s:int")
    assert rows(res) == [(3,), (7,)]

    def as_dicts(data: Iterable[dict[str, Any]]) -> Iterable[dict[str, Any]]:
        for r in data:
            yield {"s": r["a"] * 10}

    res = fa.transform(df, as_dicts, schema="s:int")
    assert rows(res) == [(10,), (30,)]


def test_transform_grouped_with_presort_and_cursor(spark):
    # every partition algo feeds the grouped executor one partition sort:
    # keys, then presort with NULLs last in both directions
    df = make_df(
        spark,
        [["a", 3], ["a", None], ["a", 1], ["a", 2], ["b", 9], ["b", 7]],
        "k:str,v:int",
    ).repartition(3)

    def head1(cursor, pdf: pd.DataFrame) -> pd.DataFrame:
        assert cursor.key_value_dict["k"] == pdf.iloc[0]["k"]
        return pdf.head(1)

    def ordered(cursor, t: pa.Table) -> dict:
        return {"k": cursor["k"], "vs": str(t.column("v").to_pylist())}

    cases = [(algo, df) for algo in ("default", "even", "rand")]
    cases.append(("coarse", df.coalesce(1)))  # one physical partition
    for algo, d in cases:
        for presort, heads, orders in (
            ("v DESC", [("a", 3), ("b", 9)], [("a", "[3, 2, 1, None]"), ("b", "[9, 7]")]),
            ("v ASC", [("a", 1), ("b", 7)], [("a", "[1, 2, 3, None]"), ("b", "[7, 9]")]),
        ):
            part = {"by": ["k"], "presort": presort, "algo": algo, "num": 4}
            res = fa.transform(d, head1, schema="*", partition=part)
            assert rows(res) == heads, f"algo={algo} presort={presort}"
            res = fa.transform(d, ordered, schema="k:str,vs:str", partition=part)
            assert rows(res) == orders, f"algo={algo} presort={presort}"

    # ungrouped presort: the physical partition is one group, ordered by the
    # same JVM sort (NULLs last), for pandas and pa.Table functions alike
    def ordered_pd(pdf: pd.DataFrame) -> dict:
        return {"vs": str([None if pd.isna(v) else int(v) for v in pdf.v])}

    def ordered_pa(t: pa.Table) -> dict:
        return {"vs": str(t.column("v").to_pylist())}

    for algo in ("default", "coarse"):
        for presort, want in (
            ("v DESC", "[9, 7, 3, 2, 1, None]"),
            ("v ASC", "[1, 2, 3, 7, 9, None]"),
        ):
            part = {"presort": presort, "algo": algo}
            for f in (ordered_pd, ordered_pa):
                res = fa.transform(df.coalesce(1), f, schema="vs:str", partition=part)
                assert rows(res) == [(want,)], f"algo={algo} presort={presort} {f.__name__}"


def test_transform_params_and_ignore_errors(spark):
    df = make_df(spark, [["a", 1], ["b", 2]], "k:str,v:int")

    def boom(pdf: pd.DataFrame, fail_on: str) -> pd.DataFrame:
        if (pdf.k == fail_on).any():
            raise ValueError("boom")
        return pdf

    with pytest.raises(Exception):
        fa.transform(df, boom, schema="*", partition={"by": ["k"]}, params={"fail_on": "a"}).collect()
    res = fa.transform(
        df, boom, schema="*", partition={"by": ["k"]},
        params={"fail_on": "a"}, ignore_errors=[ValueError],
    )
    assert rows(res) == [("b", 2)]

    # a lazy result raises while it is consumed; ignore_errors still drops
    # that logical partition, grouped (one key) or ungrouped (all of it)
    def boom_rows(pdf: pd.DataFrame, fail_on: str) -> Iterable[list[Any]]:
        for k, v in zip(pdf.k, pdf.v):
            if k == fail_on:
                raise ValueError("boom")
            yield [k, int(v)]

    for part, want in (({"by": ["k"]}, [("a", 1)]), (None, [])):
        res = fa.transform(
            df.coalesce(1), boom_rows, schema="*", partition=part,
            params={"fail_on": "b"}, ignore_errors=[ValueError],
        )
        assert rows(res) == want, part


def test_transform_class_transformer_and_on_init(spark):
    df = make_df(spark, [["a", 1], ["a", 5], ["b", 2]], "k:str,v:int")

    class MeanByKey(fa.Transformer):
        def get_output_schema(self, input_schema):
            return "k:str,mean_v:double"

        def on_init(self, input_schema):
            self.ready = True

        def transform(self, pdf: pd.DataFrame) -> pd.DataFrame:
            assert self.ready
            return pd.DataFrame({"k": [pdf.k.iloc[0]], "mean_v": [pdf.v.mean()]})

    res = fa.transform(df, MeanByKey, partition={"by": ["k"]})
    assert rows(res) == [("a", 3.0), ("b", 2.0)]


def test_out_transform_side_effect(spark, tmp_path):
    import os

    df = make_df(spark, [[1], [2], [3]], "a:int")
    out = str(tmp_path)

    def writer(pdf: pd.DataFrame) -> None:
        pdf.to_csv(os.path.join(out, f"part_{os.getpid()}_{pdf.a.iloc[0]}.csv"), index=False)

    fa.out_transform(df, writer, partition={"by": ["a"]})
    import glob

    assert len(glob.glob(os.path.join(out, "part_*.csv"))) == 3

    # a generator function still runs for its side effects
    def touch_rows(pdf: pd.DataFrame, sub: str) -> Iterable[list[Any]]:
        for a in pdf.a:
            open(os.path.join(out, f"{sub}_{a}.txt"), "w").close()
            yield [a]

    for sub, part in (("grouped", {"by": ["a"]}), ("ungrouped", None)):
        fa.out_transform(df, touch_rows, partition=part, params={"sub": sub})
        assert len(glob.glob(os.path.join(out, f"{sub}_*.txt"))) == 3, sub


def test_transform_empty_partition_skip(spark):
    df = make_df(spark, [[1]], "a:int").repartition(8)
    calls = []

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        calls.append(1)
        return pdf

    res = fa.transform(df, f, schema="*")
    assert rows(res) == [(1,)]


def test_transform_requires_schema(spark):
    df = make_df(spark, [[1]], "a:int")
    with pytest.raises(ValueError):
        fa.transform(df, lambda pdf: pdf)


# ---------------- cotransform ----------------


def test_cotransform_inner(spark):
    a = make_df(spark, [[1, 10], [2, 20], [3, 30]], "k:int,x:int")
    b = make_df(spark, [[1, "p"], [1, "q"], [3, "r"], [4, "s"]], "k:int,y:str")

    def merge(cursor, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {"k": [cursor["k"]], "nx": [len(left)], "ny": [len(right)]}
        )

    res = fa.cotransform([a, b], merge, schema="k:int,nx:long,ny:long")
    assert rows(res) == [(1, 1, 2), (3, 1, 1)]


def test_cotransform_outer_variants(spark):
    a = make_df(spark, [[1, 10], [2, 20]], "k:int,x:int")
    b = make_df(spark, [[2, "p"], [3, "q"]], "k:int,y:str")

    def counts(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"nx": [len(left)], "ny": [len(right)]})

    res = fa.cotransform([a, b], counts, schema="nx:long,ny:long", how="left_outer")
    assert rows(res) == [(1, 0), (1, 1)]
    res = fa.cotransform([a, b], counts, schema="nx:long,ny:long", how="right_outer")
    assert rows(res) == [(0, 1), (1, 1)]
    res = fa.cotransform([a, b], counts, schema="nx:long,ny:long", how="full_outer")
    assert rows(res) == [(0, 1), (1, 0), (1, 1)]


def test_cotransform_three_way(spark):
    a = make_df(spark, [[1, 10], [2, 20]], "k:int,x:int")
    b = make_df(spark, [[1, "p"], [2, "q"]], "k:int,y:str")
    c = make_df(spark, [[1, 1.5], [1, 2.5]], "k:int,z:double")

    def agg3(cursor, d1: pd.DataFrame, d2: pd.DataFrame, d3: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {"k": [cursor["k"]], "n": [len(d1) + len(d2) + len(d3)]}
        )

    res = fa.cotransform([a, b, c], agg3, schema="k:int,n:long", how="full_outer")
    assert rows(res) == [(1, 4), (2, 2)]


def test_cotransform_cross(spark):
    """Mirrors reference execution_suite test_comap z4: cross zip calls the
    function ONCE with each input whole and no keys; disjoint schemas are
    fine (no common-column requirement)."""
    a = make_df(spark, [[1, 2], [3, 4], [1, 5]], "a:int,b:int")
    b = make_df(spark, [[6, 1], [2, 7]], "c:int,a:int")

    def combine(cursor, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        assert cursor.keys == []
        return pd.DataFrame({"v": [f"_0{len(left)},_1{len(right)}"]})

    res = fa.cotransform([a, b], combine, schema="v:str", how="cross")
    assert rows(res) == [("_03,_12",)]

    # presort orders each whole input of a cross zip by the columns it has
    def orders(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"v": [f"{list(left.b)},{list(right.c)}"]})

    res = fa.cotransform(
        [a, b], orders, schema="v:str", how="cross", partition={"presort": "b desc, c"}
    )
    assert rows(res) == [("[5, 4, 2],[2, 6]",)]

    # disjoint-schema inputs only work with cross
    c = make_df(spark, [[1.0]], "z:double")
    res2 = fa.cotransform(
        [a, c], lambda l, r: pd.DataFrame({"n": [len(l) + len(r)]}),
        schema="n:long", how="cross",
    )
    assert rows(res2) == [(4,)]


def test_cotransform_cross_rejects_keys(spark):
    a = make_df(spark, [[1, 10]], "k:int,x:int")
    b = make_df(spark, [[1, "p"]], "k:int,y:str")
    with pytest.raises(ValueError, match="cross"):
        fa.cotransform(
            [a, b], lambda l, r: None, schema="n:long", how="cross",
            partition={"by": ["k"]},
        )


def test_cotransform_validation(spark):
    a = make_df(spark, [[1, 10]], "k:int,x:int")
    b = make_df(spark, [[1, "p"]], "k:int,y:str")

    def f(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        return l

    with pytest.raises(ValueError):
        fa.cotransform([a], f, schema="k:int,x:int")
    with pytest.raises(ValueError):
        fa.cotransform([a, b], f, schema="k:int,x:int", how="bogus")
    with pytest.raises(ValueError):
        fa.cotransform(
            [a.select("x"), b.select("y")], f, schema="x:int"
        )


def test_transform_nan_null_float_keys_one_group(spark):
    # float NaN and NULL partition keys are ONE key to pandas; every
    # partition algo must co-locate them so the fn runs once for that key
    import math

    data = [[1.0, 1], [1.0, 2], [None, 3], [math.nan, 4], [2.0, 5]]
    df = spark.createDataFrame(data, parse_schema("k:double,v:int")).repartition(4)

    def agg(pdf: pd.DataFrame) -> dict:
        return {"n": len(pdf), "s": int(pdf.v.sum())}

    for algo in ("default", "even", "rand"):
        res = fa.transform(
            df,
            agg,
            schema="n:long,s:long",
            partition={"by": ["k"], "algo": algo, "num": 4},
        )
        got = sorted(rows(res))
        # 3 logical keys: 1.0, 2.0, and the merged NaN/NULL group
        assert got == [(1, 5), (2, 3), (2, 7)], f"algo={algo}: {got}"


def test_grouped_executor_groups_straddle_arrow_batches(spark):
    # 3-row Arrow batches split most key groups across batch boundaries;
    # every grouped form must give the same rows as under the default
    # batch size (and as plain pandas)
    data = [[i % 7, f"g{i % 5}", (i * 37) % 11, float(i)] for i in range(60)]
    df = make_df(spark, data, "k:long,g:str,v:long,x:double").repartition(2)
    ref = pd.DataFrame(data, columns=["k", "g", "v", "x"])
    left = df.select("k", "v")
    right = make_df(spark, [[i % 9, i] for i in range(40)], "k:long,y:long")

    def by_pd(pdf: pd.DataFrame) -> dict:
        return {"k": int(pdf.k.iloc[0]), "n": len(pdf), "s": int(pdf.v.sum())}

    def by_pa(t: pa.Table) -> dict:
        return {"k": t.column("k")[0].as_py(), "n": t.num_rows, "s": sum(t.column("v").to_pylist())}

    def by_cursor(cursor, pdf: pd.DataFrame) -> dict:
        return {"g": cursor["g"], "n": len(pdf), "s": int(pdf.v.sum())}

    def top2(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.head(2)

    def top2_pa(t: pa.Table) -> pa.Table:
        return t.slice(0, 2)

    def zip_pd(a: pd.DataFrame, b: pd.DataFrame) -> dict:
        return {"k": int(a.k.iloc[0]), "na": len(a), "nb": len(b), "s": int(a.v.sum() + b.y.sum())}

    def zip_pa(cursor, a: pa.Table, b: pd.DataFrame) -> dict:
        return {"k": cursor["k"], "na": a.num_rows, "nb": len(b), "s": sum(a.column("v").to_pylist()) + int(b.y.sum())}

    def batch_sizes(tables: Iterable[pa.Table]) -> Iterator[pa.Table]:
        for t in tables:
            yield pa.table({"n": pa.array([t.num_rows], pa.int64())})

    def run_all() -> dict:
        grouped = {"by": ["k"]}
        presorted = {"by": ["k"], "presort": "v DESC, x ASC"}
        return {
            "pd": rows(fa.transform(df, by_pd, schema="k:long,n:long,s:long", partition=grouped, compile=False)),
            "pa": rows(fa.transform(df, by_pa, schema="k:long,n:long,s:long", partition=grouped, compile=False)),
            "cursor": rows(fa.transform(df, by_cursor, schema="g:str,n:long,s:long", partition={"by": ["g"]}, compile=False)),
            "presort": rows(fa.transform(df, top2, schema="*", partition=presorted)),
            "presort_pa": rows(fa.transform(df, top2_pa, schema="*", partition=presorted)),
            "zip_pd": rows(fa.cotransform([left, right], zip_pd, schema="k:long,na:long,nb:long,s:long", compile=False)),
            "zip_pa": rows(fa.cotransform([left, right], zip_pa, schema="k:long,na:long,nb:long,s:long", how="full_outer", compile=False)),
        }

    want = run_all()
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "3")
    try:
        sizes = [r[0] for r in fa.transform(df, batch_sizes, schema="n:long").collect()]
        got = run_all()
    finally:
        spark.conf.set(conf, old)
    assert sizes and max(sizes) <= 3 and sum(sizes) == 60
    assert got == want

    exp = ref.groupby("k").agg(n=("v", "size"), s=("v", "sum")).reset_index()
    assert want["pd"] == want["pa"] == sorted(exp.itertuples(index=False, name=None))
    exp_g = ref.groupby("g").agg(n=("v", "size"), s=("v", "sum")).reset_index()
    assert want["cursor"] == sorted(exp_g.itertuples(index=False, name=None))
    top = ref.sort_values(["v", "x"], ascending=[False, True]).groupby("k").head(2)
    assert want["presort"] == want["presort_pa"] == rows_of(top)
    assert len(want["zip_pd"]) == 7 and len(want["zip_pa"]) == 9


def rows_of(pdf: pd.DataFrame) -> list:
    return sorted(pdf.itertuples(index=False, name=None), key=lambda t: tuple(map(str, t)))


def test_transform_grouped_arrow_fast_path(spark):
    # pa.Table-annotated fn + partition.by → zero-copy per-group Table slice
    df = make_df(spark, [[1, 10], [1, 20], [2, 5], [3, 7], [3, 9]], "k:int,v:int")

    def agg(t: pa.Table) -> dict:
        return {
            "k": t.column("k")[0].as_py(),
            "s": sum(t.column("v").to_pylist()),
            "n": t.num_rows,
        }

    res = fa.transform(df, agg, schema="k:int,s:long,n:long", partition={"by": ["k"]})
    assert rows(res) == [(1, 30, 2), (2, 5, 1), (3, 16, 2)]


def test_transform_grouped_arrow_with_cursor(spark):
    df = make_df(spark, [[1, 10], [2, 5], [1, 20]], "k:int,v:int")

    def agg(cursor, t: pa.Table) -> dict:
        return {"k": cursor["k"], "n": t.num_rows}

    res = fa.transform(df, agg, schema="k:int,n:long", partition={"by": ["k"]})
    assert rows(res) == [(1, 2), (2, 1)]


def test_transform_string_annotations(spark):
    # PEP 563 string annotations with function-local imports must dispatch
    df = make_df(spark, [[1, 2], [3, 4]], "a:int,b:int")

    def f_pd(pdf: "pd.DataFrame") -> "pd.DataFrame":
        return pdf.assign(s=pdf.a + pdf.b)

    assert rows(fa.transform(df, f_pd, schema="*,s:int")) == [(1, 2, 3), (3, 4, 7)]

    def f_pa(t: "pa.Table"):
        return {"n": t.num_rows}

    # ungrouped transform runs once per physical partition
    assert sum(r[0] for r in rows(fa.transform(df, f_pa, schema="n:long"))) == 2

    def f_iter(tables: "Iterable[pd.DataFrame]") -> "Iterable[pd.DataFrame]":
        for t in tables:
            yield t[t.a > 1]

    assert rows(fa.transform(df, f_iter, schema="*")) == [(3, 4)]


def test_transform_iterable_arrow_native_path(spark):
    df = make_df(spark, [[i, float(i)] for i in range(50)], "a:int,b:double")

    def arrow_stream(tables: Iterable[pa.Table]) -> Iterator[pa.Table]:
        for t in tables:
            yield t.filter(pa.compute.greater(t["a"], 25))

    res = fa.transform(df, arrow_stream, schema="*")
    got = rows(res)
    assert len(got) == 24
    assert all(r[0] > 25 for r in got)
    # plan should be ArrowEvalPython/mapInArrow, not pandas
    import io, contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        res.explain("simple")
    assert "Arrow" in buf.getvalue() or "MapInArrow" in buf.getvalue()


def test_ungrouped_stream_output_is_conformed(spark):
    # an ungrouped Iterable[...] result is conformed to the declared schema
    # like a grouped one: an int32 column is cast to the declared long
    # (unconformed, the JVM reader fails on getLong)
    from pyspark.sql import types as T

    df = make_df(spark, [[i] for i in range(10)], "a:int").repartition(2)

    def narrow(tables: Iterable[pa.Table]) -> Iterator[pa.Table]:
        for t in tables:
            yield pa.table({"n": t.column("a").cast(pa.int32())})

    want = [(i,) for i in range(10)]
    assert rows(fa.transform(df, narrow, schema="n:long")) == want

    # an exotic input/output name runs under safe aliases on both sides
    dotted = df.toDF("a.b")

    def narrow_dotted(tables: Iterable[pa.Table]) -> Iterator[pa.Table]:
        for t in tables:
            yield pa.table({"a.b": t.column("a.b").cast(pa.int32())})

    out_schema = T.StructType([T.StructField("a.b", T.LongType())])
    res = fa.transform(dotted, narrow_dotted, schema=out_schema)
    assert res.columns == ["a.b"] and rows(res) == want

    # row-shaped items of an iterator result are rows, not frames
    def row_lists(dfs: Iterable[pd.DataFrame]) -> Iterable[list[Any]]:
        for pdf in dfs:
            for a in pdf.a:
                yield [int(a), f"r{a}"]

    res = fa.transform(df, row_lists, schema="a:long,s:str")
    assert rows(res) == [(i, f"r{i}") for i in range(10)]


def test_grouped_transform_plan_shape(spark):
    # lock the engine's physical shape: grouped transform = ONE hash
    # exchange on the keys + JVM sort + MapInArrow (no applyInPandas
    # round-trips, no extra exchange after the python stage)
    from fugue_spark.plans import physical_plan

    df = make_df(spark, [[1, 2], [1, 3], [2, 4]], "k:int,v:int")

    def agg(pdf: pd.DataFrame) -> dict:
        return {"k": int(pdf.k.iloc[0]), "s": int(pdf.v.sum())}

    # compile=False pins the PANDAS path here (auto-compile would turn this
    # reducer into a native groupBy().agg — covered by the compile tests)
    res = fa.transform(
        df, agg, schema="k:int,s:long", partition={"by": ["k"]}, compile=False
    )
    plan = physical_plan(res, "simple")
    assert "MapInArrow" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    # and the DEFAULT path for the same function is the compiled aggregation
    auto = fa.transform(df, agg, schema="k:int,s:long", partition={"by": ["k"]})
    aplan = physical_plan(auto, "simple")
    assert "MapInArrow" not in aplan and "HashAggregate" in aplan, aplan
    assert sorted(rows(auto)) == sorted(rows(res))


def test_hash_sample_plan_is_map_only(spark):
    from fugue_spark.plans import has_exchange

    df = make_df(spark, [[i] for i in range(100)], "id:long")
    assert not has_exchange(fa.hash_sample(df, 0.5, ["id"]))


def test_group_frame_maker_lazy_cache_semantics():
    """The per-group frames' lazy column cache must serve correct views and
    deactivate on every pandas mutation path (setitem / new column / del)."""
    import numpy as np

    from fugue_spark.transform import _group_bounds, _group_frame_maker

    pdf = pd.DataFrame(
        {
            "k": [1, 1, 2, 2, 2, 3],
            "x": [1.0, 2.0, 3.0, float("nan"), 5.0, 6.0],
            "s": ["a", "b", "c", "d", "e", "f"],
            "i": pd.array([10, 20, 30, 40, 50, 60], dtype="int32"),
        }
    )
    from pyspark.sql import types as T

    bounds, _ = _group_bounds(
        pa.Table.from_pandas(pdf), [T.StructField("k", T.LongType())], "UTC"
    )
    make = _group_frame_maker(pdf)
    pairs = list(zip(bounds[:-1], bounds[1:]))

    g = make(*pairs[1])  # k == 2 group, includes the NaN
    assert list(g.index) == [0, 1, 2]  # zero-based RangeIndex
    assert g.x.tolist()[0] == 3.0 and np.isnan(g.x.tolist()[1])
    assert g["s"].tolist() == ["c", "d", "e"]
    assert g.i.dtype == "int32"
    # attribute access twice returns the cached object (no rebuild)
    assert g.x is g.x

    # column replacement must not serve stale cached views
    g2 = make(*pairs[0])
    before = g2.x.tolist()
    g2["x"] = g2["x"] * 10
    assert g2.x.tolist() == [v * 10 for v in before]
    # new column insert then read
    g3 = make(*pairs[2])
    g3["y"] = 99.0
    assert g3.y.tolist() == [99.0]
    assert g3.x.tolist() == [6.0]
    # del column then read another
    g4 = make(*pairs[0])
    _ = g4.x
    del g4["x"]
    assert list(g4.columns) == ["k", "s", "i"]
    assert g4.s.tolist() == ["a", "b"]
    # iloc row-slice of a group frame still works
    assert make(*pairs[1]).iloc[1:].x.tolist()[1] == 5.0


def test_cotransform_arrow_sides(spark):
    """pa.Table-annotated sides get zero-copy Arrow slices; mixed pandas/
    arrow signatures work per side; presort applies JVM-side."""
    a = make_df(spark, [[1, 10], [2, 20], [3, 30]], "k:int,x:int")
    b = make_df(spark, [[1, 5.0], [1, 1.0], [3, 9.0], [4, 2.0]], "k:int,y:double")

    def merge(cursor, left: pa.Table, right: pa.Table):
        assert isinstance(left, pa.Table) and isinstance(right, pa.Table)
        return {
            "k": int(cursor["k"]),
            "nx": left.num_rows,
            "ny": right.num_rows,
            "firsty": float(right.column("y")[0].as_py()) if right.num_rows else None,
        }

    res = fa.cotransform(
        [a, b],
        merge,
        schema="k:int,nx:long,ny:long,firsty:double",
        partition={"presort": "y DESC"},
    )
    assert rows(res) == [(1, 1, 2, 5.0), (3, 1, 1, 9.0)]

    def mixed(cursor, left: pd.DataFrame, right: pa.Table):
        assert isinstance(left, pd.DataFrame) and isinstance(right, pa.Table)
        return {"k": int(cursor["k"]), "n": len(left) + right.num_rows}

    res2 = fa.cotransform([a, b], mixed, schema="k:int,n:long", how="full_outer")
    assert rows(res2) == [(1, 3), (2, 1), (3, 2), (4, 1)]


def test_cotransform_presort_pandas_sides(spark):
    """JVM-side presort must order each pandas side's rows inside a group
    (nulls last), replacing the old per-group sort_values."""
    a = make_df(spark, [[1, 3.0], [1, None], [1, 1.0], [2, 7.0]], "k:int,v:double")
    b = make_df(spark, [[1, "x"], [2, "y"]], "k:int,s:str")

    def first_v(cursor, left: pd.DataFrame, right: pd.DataFrame):
        vals = left.v.tolist()
        return {
            "k": int(cursor["k"]),
            "first_v": vals[0],
            "last_is_nan": pd.isna(vals[-1]),
        }

    res = fa.cotransform(
        [a, b],
        first_v,
        schema="k:int,first_v:double,last_is_nan:boolean",
        partition={"presort": "v DESC"},
    )
    assert rows(res) == [(1, 3.0, True), (2, 7.0, False)]


def test_cotransform_rejects_unsupported_side_annotation(spark):
    a = make_df(spark, [[1, 10]], "k:int,x:int")
    b = make_df(spark, [[1, 2]], "k:int,y:int")

    def f(left: Iterable[pd.DataFrame], right: pd.DataFrame):
        return None

    with pytest.raises(ValueError, match="pd.DataFrame or pa.Table"):
        fa.cotransform([a, b], f, schema="n:long")


def test_empty_aware_iterable_dispatch(spark):
    """EmptyAwareIterable[List]/[Dict] input forms (reference
    fugue/dataframe/function_wrapper.py:354): rows arrive lazily but
    .empty/.peek() answer without consuming; works per-group and with
    PEP-563 string annotations."""
    from typing import Any, Dict, List

    from fugue_spark.transform import EmptyAwareIterable, make_empty_aware

    # unit: peek does not consume, empty detected up-front
    ea = make_empty_aware(iter([[1], [2]]))
    assert not ea.empty and ea.peek() == [1]
    assert list(ea) == [[1], [2]]
    empty = make_empty_aware(iter([]))
    assert empty.empty
    with pytest.raises(StopIteration):
        empty.peek()

    df = spark.createDataFrame(
        [[1, 10], [1, 20], [2, 30]], parse_schema("k:long,v:long")
    )

    def f(rows: EmptyAwareIterable[List[Any]]):
        first = rows.peek()[1]  # look ahead without consuming
        out = [[r[0], r[1], first] for r in rows]
        return out

    got = fa.transform(
        df, f, schema="k:long,v:long,first:long",
        partition={"by": ["k"], "presort": "v"},
    )
    assert sorted(tuple(r) for r in got.collect()) == [
        (1, 10, 10), (1, 20, 10), (2, 30, 30),
    ]

    def g(rows: EmptyAwareIterable[Dict[str, Any]]):
        for r in rows:
            r["v"] = r["v"] + 1
            yield r

    got2 = fa.transform(df, g, schema="k:long,v:long")
    assert sorted(tuple(r) for r in got2.collect()) == [(1, 11), (1, 21), (2, 31)]

    # string-annotation (PEP 563 / function-local import) form
    def h(rows: "EmptyAwareIterable[List[Any]]"):
        return [] if rows.empty else [[rows.peek()[0]]]

    got3 = fa.transform(
        df, h, schema="k:long", partition={"by": ["k"]},
    )
    assert sorted(tuple(r) for r in got3.collect()) == [(1,), (2,)]


def test_dict_of_arrays_mixed_with_array_cell(spark):
    """r07 second-review fix: in a multi-row dict result, a value aimed at
    an ARRAY-typed column is a cell — a flat array repeats onto every row;
    a sequence-of-sequences matching the row count is per-row cells."""
    from fugue_spark.schema import parse_schema

    df = spark.createDataFrame(
        [[1, 1, 10.0], [1, 2, 20.0], [2, 3, 5.0]],
        parse_schema("k:long,i:long,x:double"),
    )

    def fn(pdf):
        return {
            "k": pdf.k.values[0],
            "i": pdf.i.values,
            "emb": [1.0, 2.0, 3.0],  # flat → ONE cell repeated per row
            "per_row": [[float(v)] for v in pdf.i.values],  # per-row cells
        }

    out = fa.transform(
        df, fn, schema="k:long,i:long,emb:[double],per_row:[double]",
        partition={"by": ["k"]},
    )
    got = {r.i: (list(r.emb), list(r.per_row)) for r in out.collect()}
    assert got == {
        1: ([1.0, 2.0, 3.0], [1.0]),
        2: ([1.0, 2.0, 3.0], [2.0]),
        3: ([1.0, 2.0, 3.0], [3.0]),
    }
