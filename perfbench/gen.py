"""Seeded input generator for the benchmark.

Builds the ten tables of the repository's test data (TPC-H-ish star
schema, an event stream, a text corpus with planted near-duplicates and unit-norm
embeddings) in three steps:

1. ``make_base`` draws one sf0.1-shaped replica from ``numpy`` with the
   seed: the same row counts, column domains and near-duplicate structure
   as the sf0.1 test data (TESTDATA.md).
2. ``scripts/make_sf1.py`` replicates it ``reps`` times, imported rather
   than copied, so the key strides, per-replica word prefixes and vector
   rotations are the ones the repository's scaling bench uses.
3. ``finish`` rewrites every table with seeded changes: row order, the
   replica-to-key-block assignment (key salt) and the per-replica word
   prefix (word salt). Each large table becomes a directory of several
   files with several row groups each, so every scan splits across the
   cores instead of running as one task.

The engine only ever sees the finished parquet.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# sf0.1 row counts of the test data (TESTDATA.md)
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

# key column -> the (table, column) whose max + 1 make_sf1 uses as that
# column's per-replica stride
KEY_STRIDES = {
    "customer": {"c_custkey": ("customer", "c_custkey")},
    "supplier": {"s_suppkey": ("supplier", "s_suppkey")},
    "part": {"p_partkey": ("part", "p_partkey")},
    "orders": {"o_orderkey": ("orders", "o_orderkey"), "o_custkey": ("customer", "c_custkey")},
    "lineitem": {
        "l_orderkey": ("orders", "o_orderkey"),
        "l_partkey": ("part", "p_partkey"),
        "l_suppkey": ("supplier", "s_suppkey"),
    },
    "events": {"event_id": ("events", "event_id"), "user_id": ("events", "user_id")},
    "documents": {"doc_id": ("documents", "doc_id")},
    "embeddings": {"vec_id": ("embeddings", "vec_id")},
}
EVENT_USERS = 1_500

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

FILES_PER_TABLE = 4
ROW_GROUPS_PER_FILE = 4
# tables below this many rows stay one single-row-group file
SPLIT_MIN_ROWS = 1_000


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> pa.Array:
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    days = rng.integers(lo_d, hi_d + 1, n)
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _i32(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype=np.int32))


def _i64(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype=np.int64))


def make_base(dst: str, seed: int, fraction: float = 1.0) -> str:
    """Write one sf0.1-shaped replica drawn from ``seed`` to ``dst``, its
    row counts scaled by ``fraction`` (0.1 gives an sf0.01 shape)."""
    rng = np.random.default_rng(seed)
    os.makedirs(dst, exist_ok=True)
    n = {t: max(10, int(rows * fraction)) for t, rows in BASE_ROWS.items()}
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": _i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": _i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": _i32([i % 5 for i in range(25)]),
    })
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": _i64(range(c)),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": _i32(rng.integers(0, 25, c)),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _pick(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c
        ),
    })
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": _i64(range(s)),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": _i32(rng.integers(0, 25, s)),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    tables["part"] = pa.table({
        "p_partkey": _i64(range(p)),
        "p_name": _pick(rng, [f"{a} {b}" for a in adjectives for b in nouns], p),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], p),
        "p_type": _pick(
            rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p
        ),
        "p_size": _i32(rng.integers(1, 51, p)),
        "p_retailprice": (9000 + np.arange(p) % 1000) / 10.0,
    })
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": _i64(range(o)),
        "o_custkey": _i64(rng.integers(0, c, o)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o
        ),
    })
    li = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": _i64(rng.integers(0, o, li)),
        "l_partkey": _i64(rng.integers(0, p, li)),
        "l_suppkey": _i64(rng.integers(0, s, li)),
        "l_linenumber": _i32(rng.integers(1, 8, li)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        # rounded to the nearest cent like the test data (0 and 0.10 at half weight)
        "l_discount": np.round(rng.uniform(0.0, 0.10, li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, li), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    tables["events"] = pa.table({
        "event_id": _i64(range(e)),
        "ts": pa.array((start + offsets).astype("datetime64[us]")),
        "user_id": _i64(rng.integers(0, EVENT_USERS, e)),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    tables["documents"] = _documents(rng, n["documents"])
    v = n["embeddings"]
    vec = rng.standard_normal((v, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": _i64(range(v)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": _i32(rng.integers(0, 10, v)),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(dst, f"{name}.parquet"))
    return dst


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents of 10-100 words; 5% are a copy of another
    document with `` dup`` appended (near-duplicates at Jaccard >= 0.88,
    drawn with replacement, so a few copies are byte-identical)."""
    n_dup = n // 20
    originals = [
        " ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
        for _ in range(n - n_dup)
    ]
    copies = [originals[i] + " dup" for i in rng.integers(0, len(originals), n_dup)]
    texts = np.asarray(originals + copies, dtype=object)[rng.permutation(n)]
    langs = np.asarray(["en", "en", "en", "de", "es", "fr", "zh"], dtype=object)
    return pa.table({
        "doc_id": _i64(range(n)),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, len(langs), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": _i64([len(t) for t in texts]),
    })


def _replicate(src: str, dst: str, reps: int) -> str:
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    try:
        from make_sf1 import make_sf1
    finally:
        sys.path.pop(0)
    return make_sf1(src=src, dst=dst, reps=reps)


def finish(src: str, base: str, dst: str, seed: int, reps: int) -> str:
    """Rewrite the replicated tables in ``src`` with the seed's row order,
    key salt and word salt, as multi-file, multi-row-group parquet."""
    import duckdb

    rng = np.random.default_rng([seed, 1])
    # key salt: replica i's keys move to key block perm[i]
    perm = "[" + ",".join(str(int(x)) for x in rng.permutation(reps)) + "]"
    # word salt: replica i>0's word prefix r{i}_ becomes r{salt_i}_
    salts = "[" + ",".join(
        str(int(x)) for x in rng.choice(np.arange(10, 1000), reps, replace=False)
    ) + "]"
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{os.path.join(dst, '.duckdb_tmp')}'")

    def read(root: str, name: str) -> str:
        return f"read_parquet('{os.path.join(root, name + '.parquet')}')"

    def stride(table: str, col: str) -> int:
        return con.sql(f"SELECT max({col}) + 1 FROM {read(base, table)}").fetchone()[0]

    for name in TABLES:
        exprs = {}
        for col, domain in KEY_STRIDES.get(name, {}).items():
            st = stride(*domain)
            exprs[col] = f"{col} % {st} + {perm}[({col} // {st})::INTEGER + 1] * {st}"
        if name == "documents":
            rep = f"(doc_id // {stride('documents', 'doc_id')})::INTEGER"
            exprs["text"] = (
                f"CASE WHEN {rep} = 0 THEN text ELSE regexp_replace(text, "
                f"'(^| )r' || {rep} || '_', '\\1r' || {salts}[{rep} + 1] || '_', 'g') END"
            )
            exprs["n_chars"] = f"length({exprs['text']})::BIGINT"
        cols = con.sql(f"SELECT * FROM {read(src, name)} LIMIT 0").columns
        select = ", ".join(f"{exprs[c]} AS {c}" if c in exprs else c for c in cols)
        table = con.sql(
            f"SELECT {select} FROM {read(src, name)} "
            f"ORDER BY hash({cols[0]}, {seed}), {cols[0]}"
        ).arrow()
        _write(table, os.path.join(dst, f"{name}.parquet"))
    con.close()
    shutil.rmtree(os.path.join(dst, ".duckdb_tmp"), ignore_errors=True)
    return dst


def _write(table: pa.Table, out: str) -> None:
    """Small tables stay one file; the rest become a directory of
    ``FILES_PER_TABLE`` files of ``ROW_GROUPS_PER_FILE`` row groups."""
    if table.num_rows < SPLIT_MIN_ROWS:
        pq.write_table(table, out)
        return
    os.makedirs(out, exist_ok=True)
    per_file = -(-table.num_rows // FILES_PER_TABLE)
    for i in range(FILES_PER_TABLE):
        part = table.slice(i * per_file, per_file)
        pq.write_table(
            part,
            os.path.join(out, f"part-{i:05d}.parquet"),
            row_group_size=max(1, -(-part.num_rows // ROW_GROUPS_PER_FILE)),
        )


def generate(dst: str, seed: int, reps: int, fraction: float = 1.0) -> str:
    """Build the seeded dataset at ``dst`` (reused when already complete)."""
    done = os.path.join(dst, "_COMPLETE")
    if os.path.exists(done):
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    stage = dst + ".stage"
    shutil.rmtree(stage, ignore_errors=True)
    try:
        base = make_base(os.path.join(stage, "base"), seed, fraction)
        replicated = _replicate(base, os.path.join(stage, "replicated"), reps)
        finish(replicated, base, dst, seed, reps)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    with open(done, "w") as f:
        f.write(f"seed={seed} reps={reps} fraction={fraction}\n")
    return dst


def input_rows(data_dir: str, tables: "tuple[str, ...]") -> int:
    """Rows stored in ``tables`` of a generated dataset (parquet metadata)."""
    total = 0
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        files = (
            [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".parquet")]
            if os.path.isdir(path)
            else [path]
        )
        total += sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return total

