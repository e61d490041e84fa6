"""Deduplication operators for 100 TB-scale corpora.

Five strategies, each expressed as a shuffle-conscious DataFrame plan:

* exact            — fingerprint hash → groupBy keep-first. One shuffle on
                     a 128-bit key; at scale the shuffle carries (id, hash)
                     only, never the text.
* ngram_jaccard    — word n-gram shingles → explode → inverted-index
                     self-join on shingle → per-pair intersection count →
                     Jaccard. Exact but quadratic in worst case; the
                     shingle join is the classic "small candidate set"
                     trick: only pairs sharing ≥1 shingle are generated.
* minhash_lsh      — shingle → ONE groupBy(id) computing m minhashes AND
                     the per-doc set size (all fixed-width buffers) → b
                     band keys → bucket aggregation enumerates candidate
                     pairs in-row → count-based exact-Jaccard verify over
                     the materialized index. Near-linear; no all-pairs
                     join and no shingle arrays anywhere.
* simhash          — 64-bit simhash per doc (vectorized pandas UDF, no
                     shuffle) → 16-bit chunk banding (pigeonhole: hamming
                     ≤3 ⇒ ≥1 of 4 chunks equal) → candidate join →
                     popcount verify.
* embedding cosine — see similarity.py (near_duplicates_by_embedding).

All emit candidate/confirmed duplicate PAIRS (id_a < id_b) so downstream
can pick survivors; ``dedup_exact`` also offers keep-first directly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _materialize_index(df: DataFrame) -> DataFrame:
    """Lazily materialize a corpus-sized inverted index that several plan
    branches read (lazy local checkpoint — same fault-tolerance posture as
    before; swap for a reliable checkpoint on a cluster where executor loss
    must be survivable). Stored MEMORY_AND_DISK: DISK_ONLY keeps the index
    out of the executor heap but measured 2x slower on p6 at sf10, the GC
    relief not paying for the write (OPTIMIZATION_r10.md)."""
    from pyspark import StorageLevel

    return df.localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)

__all__ = [
    "dedup_exact",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_against",
    "decontaminate",
    "simhash_pairs",
    "simhash_verified_pairs",
    "near_dup_clusters",
    "dedup_near",
]


def _normalized(text_col: str) -> F.Column:
    return F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id row per distinct normalized text. The shuffle key
    is the md5 fingerprint, not the document — at 100 TB the exchange moves
    ~48 bytes/row.

    Kept as a row_number window rather than a ``min_by(struct(*cols))``
    aggregation (tried r10): Catalyst prunes columns THROUGH a window, so a
    consumer that projects two columns after dedup shuffles only those plus
    the fingerprint — while min_by's struct pins every column into the
    exchange (measured: p4 0.43 s → 0.65 s at sf1 because the full text
    rode the shuffle). Partial-agg dedup only wins when consumers keep all
    columns AND the duplicate rate is high."""
    fp = F.md5(_normalized(text_col))
    w = Window.partitionBy("__fp__").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__fp__", fp)
        .withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__fp__", "__rn__")
    )


def _shingles(text_col: str, n: int) -> F.Column:
    """Distinct 64-bit word n-gram shingle fingerprints of the normalized
    text, as array<long>.

    The gram strings are never materialized: each word is xxhash64'd once,
    then each n-gram fingerprint is an xxhash64 over the n word hashes —
    pure long arithmetic instead of per-gram string building (the dominant
    cost of the naive concat_ws form). Collision odds per doc are
    ~grams²/2⁶⁴ — vanishing.

    Words come from ONE regex pass — ``split(lower(trim(x)), '\\s+')`` —
    instead of collapse-whitespace-then-split-on-space: token boundaries
    are identical for any separator class (maximal runs of non-separator
    chars), and dropping the regexp_replace pass measured ~0.4 s of the
    sf10 corpus scan (scripts/shingle_variants.py v6 vs v7)."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    hw = F.transform(words, lambda w: F.xxhash64(w))
    k = F.size(words) - (n - 1)
    # n shifted slices zipped elementwise: position i's struct holds
    # (hw[i], ..., hw[i+n-1]), one xxhash64 per gram. Same hash values as
    # indexing hw[i+j] per element, but ~14x faster: higher-order lambdas
    # are interpreted per element, and sequential struct-field access beats
    # per-element array random access + index arithmetic by that margin
    # (measured 5.7s -> 0.39s on the sf1 corpus).
    zipped = F.arrays_zip(*[F.slice(hw, j + 1, k) for j in range(n)])
    grams = F.when(
        k >= 1,
        F.array_distinct(
            F.transform(
                zipped,
                lambda s: F.xxhash64(*[s[str(j)] for j in range(n)]),
            )
        ),
    ).otherwise(F.array().cast("array<long>"))
    return grams


def _shingle_index(
    df: DataFrame, n: int, text_col: str, id_col: str, with_size: bool = False
) -> DataFrame:
    """(id, g) inverted index over 64-bit shingle fingerprints — 16 bytes/row
    through the exchange instead of full n-grams. Callers repartition this on
    the reuse key ONCE so every downstream branch (hot-set agg, join sides,
    per-doc counts) reads a single materialized exchange instead of
    recomputing the shingling scan per branch (ReuseExchange matches the
    identical subtree).

    ``with_size=True`` adds ``n_sh`` (the doc's distinct-shingle count, an
    int — computed for free from the pre-explode array) to every row: +4
    bytes/row through the exchange buys consumers the per-doc set size
    WITHOUT a separate groupBy(id) aggregation + join-back.

    The gram ARRAYS are materialized (lazy local checkpoint) before the
    explode: the shingling chain is a higher-order-function expression
    (CodegenFallback — interpreted), and Catalyst re-evaluates it for
    every consumer of the array — ``size()`` + the generator input cost
    2× the chain, and an explode whose generator input is the raw chain
    (no other reference) re-evaluates it per OUTPUT row. Measured at sf10
    (scripts/shingle_variants.py): chain once 2.6 s; size+explode of the
    inline chain 7.1 s; explode-only inline 21 s; struct-carrying explode
    111 s; size+explode over the materialized arrays **0.09 s**. The
    arrays are the same bytes as the exploded index (~8 B/gram), so the
    extra copy is metadata-sized next to the corpus text."""
    base = _materialize_index(
        df.select(F.col(id_col).alias("id"), _shingles(text_col, n).alias("__gr__"))
    )
    if with_size:
        return base.select(
            "id", F.size("__gr__").alias("n_sh"), F.explode("__gr__").alias("g")
        )
    return base.select("id", F.explode("__gr__").alias("g"))


# driver-side bound for the hot-set probe in ngram_jaccard_pairs: above
# this many hot shingles the plan keeps the lazy broadcast aggregation
_HOT_PROBE_MAX = 65536


def _hot_shingles(ex: DataFrame, ndocs_df: DataFrame, max_shingle_df, min_cap: int) -> "DataFrame | None":
    """The (small) set of shingles whose document frequency exceeds the cap —
    the standard corpus-scale guard: one stop-gram shared by 10% of docs
    otherwise turns the inverted-index self-join quadratic. A fractional cap
    is resolved INSIDE the plan (1-row count subquery cross-joined in); the
    caller decides whether to evaluate this lazily (broadcast side) or probe
    it eagerly to specialize the plan (see ngram_jaccard_pairs)."""
    if max_shingle_df is None:
        return None
    counts = ex.groupBy("g").agg(F.count(F.lit(1)).alias("__df__"))
    if isinstance(max_shingle_df, float):
        nd = ndocs_df.select(F.count(F.lit(1)).alias("__nd__"))
        cap_expr = F.greatest(
            F.floor(F.lit(max_shingle_df) * F.col("__nd__")), F.lit(min_cap)
        )
        return counts.crossJoin(F.broadcast(nd)).filter(F.col("__df__") > cap_expr).select("g")
    return counts.filter(F.col("__df__") > int(max_shingle_df)).select("g")


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: "float | int | None" = 0.01,
    min_shingle_df_cap: int = 20,
) -> DataFrame:
    """Exact n-gram-Jaccard duplicate pairs via inverted-index self-join.

    Plan: explode shingles → drop hot shingles (document frequency above
    ``max_shingle_df``·N, floored at ``min_shingle_df_cap`` — bounds the
    worst-case candidate blowup from stop-grams) → join on shingle (only
    co-shingled pairs materialize) → exact verify on the candidates with
    the FULL shingle sets, so the reported Jaccard is exact regardless of
    the cap. A qualifying pair is missed only if every shingle it shares is
    hot — near-dups share mostly doc-specific shingles, so recall loss is
    nil in practice (and ``max_shingle_df=None`` disables the cap).
    Output: id_a, id_b (a<b), jaccard_e4 (int, ×10⁴ — exact cross-engine).

    Verify plan (the scale-critical part): the intersection size is a
    COUNT(*) AGGREGATION on the inverted-index self-join itself — the
    exchange never carries a shingle array, only (id_a, id_b) plus longs.
    With the hot-shingle cap on, the capped count undercounts the true
    intersection by at most min(hot_a, hot_b) (a doc's shingles removed as
    hot); pairs where neither side lost a shingle are exact as-is, and ONLY
    pairs inside the resulting uncertainty band around the threshold fetch
    their full shingle sets for an exact array intersection — a vanishing
    fraction of candidates, so the array shuffle is metadata-sized.
    """
    thr = int(threshold * 10000)
    # ONE shingling pass: the index is repartitioned on the join key and
    # materialized (lazy local checkpoint) so the hot-set agg, both join
    # sides, and the near-branch arrays all read the stored partitions
    # instead of re-running the shingling scan — Catalyst can't share the
    # subtree itself because per-branch column pruning makes the copies
    # non-identical. Every row carries n_sh (with_size=True), so no branch
    # ever needs a per-doc count aggregation + join-back. (At cluster
    # scale, swap for persist(MEMORY_AND_DISK) or a reliable checkpoint if
    # executor loss must be survivable; the structure — index materialized
    # once — is the scale-critical part.)
    #
    # PPJoin prefix filtering was tried and REVERTED (r11,
    # scripts/diag_prefix*.py): generating candidates from sorted-prefix
    # rows and exact-verifying them over the full index loses to this
    # one-aggregation plan on corpora whose co-shingled pairs come from
    # RARE shingles — prefixes (hash order OR df-ascending order) still
    # produced 3.1-4.3M candidates at sf1 vs 2,560 true pairs, blowing the
    # verify-prefilter bound and turning the verify joins into the
    # dominant cost (hung at sf10). The single aggregation computes the
    # exact intersection counts DURING candidate generation, so no verify
    # pass exists to save.
    exr = _materialize_index(
        _shingle_index(df, n, text_col, id_col, with_size=True).repartition("g")
    )
    hot = _hot_shingles(exr, df, max_shingle_df, min_shingle_df_cap)

    if hot is None:
        return _pair_jaccard(exr, thr)

    # AQE-style runtime specialization: probe the hot set ONCE (a bounded
    # aggregation job over the just-materialized index — the checkpoint it
    # forces is reused by every later branch) and prune the plan with the
    # result. Real corpora at bench scales have NO shingle above the df cap,
    # and carrying the 5-branch cap machinery (left join + per-doc hot
    # counts + near-band array resolve) for an empty hot set costs ~2x the
    # whole query. A driver probe of an aggregate this small is the same
    # trade AQE makes: one stats job to pick a structurally better plan.
    hot_rows = hot.limit(_HOT_PROBE_MAX + 1).collect()
    if len(hot_rows) == 0:
        # nothing is hot: the capped index IS the full index — emit the
        # exact single-aggregation plan (sizes ride on the index rows)
        return _pair_jaccard(exr, thr)
    if len(hot_rows) <= _HOT_PROBE_MAX:
        # small hot set: inline it as a literal relation (no recompute of
        # the counts aggregation when the broadcast is built)
        hot = df.sparkSession.createDataFrame(
            [(r["g"],) for r in hot_rows], "g bigint"
        )
    # else: hot set larger than the probe bound — keep the lazy aggregation
    # as the broadcast side (unbounded collect on the driver is never OK)

    # mark-and-filter against the broadcast hot set: the SAME left join
    # feeds the capped index and the per-doc hot counts — all readers of
    # the one materialized exchange (total sizes ride on the index rows)
    j = exr.join(F.broadcast(hot.withColumn("__hot__", F.lit(True))), on="g", how="left")
    ex = j.filter(F.col("__hot__").isNull()).select("id", "n_sh", "g")
    info = j.groupBy("id").agg(F.count("__hot__").alias("n_hot"))
    p = (
        _pair_counts(ex, thr)
        .join(info.select(F.col("id").alias("id_a"), F.col("n_hot").alias("ha")), on="id_a")
        .join(info.select(F.col("id").alias("id_b"), F.col("n_hot").alias("hb")), on="id_b")
        .withColumn("min_hot", F.least("ha", "hb"))
    )
    # min_hot = 0 ⇒ no shared shingle could have been dropped ⇒ count exact
    exact = (
        p.filter(F.col("min_hot") == 0)
        .withColumn("jaccard_e4", _jaccard_e4("shared_c", "na", "nb"))
        .filter(F.col("jaccard_e4") >= thr)
        .select("id_a", "id_b", "jaccard_e4")
    )
    # true shared ∈ [shared_c, shared_c + min_hot]; only pairs whose UPPER
    # bound reaches the threshold need the exact set intersection
    ub = F.col("shared_c") + F.col("min_hot")
    near = (
        p.filter(F.col("min_hot") > 0)
        .filter(F.floor((ub * 10000) / (F.col("na") + F.col("nb") - ub)).cast("long") >= thr)
        .select("id_a", "id_b", "na", "nb")
    )
    # FULL (uncapped) per-doc shingle sets, rebuilt from the same exchange —
    # only the near-threshold pairs ever join against these arrays
    arr = exr.groupBy("id").agg(F.collect_list("g").alias("sh"))
    resolved = (
        near.join(arr.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), on="id_a")
        .join(arr.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), on="id_b")
        .withColumn("shared", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("jaccard_e4", _jaccard_e4("shared", "na", "nb"))
        .filter(F.col("jaccard_e4") >= thr)
        .select("id_a", "id_b", "jaccard_e4")
    )
    return exact.unionByName(resolved)


def _pair_counts(ex: DataFrame, thr: int) -> DataFrame:
    """Candidate generation and intersection count in ONE aggregation over
    the inverted-index self-join: pairs sharing >=1 indexed shingle, with
    shared_c = the number they share and (na, nb) the per-doc set sizes
    riding along from the index rows. The exchanges carry only ids + ints.

    The size filter before the aggregation is the classic length bound:
    jaccard ≤ min(na,nb)/max(na,nb) regardless of overlap, so a pair whose
    size ratio can't reach ``thr`` is dropped BEFORE its rows enter the
    pair aggregation — exact (never drops a qualifying pair), and it
    shrinks the aggregation's input by every co-shingled-but-incompatible
    pair."""
    a = ex.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"), "g")
    b = ex.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"), "g")
    return (
        a.join(b, on="g")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("na", "nb").cast("long") * 10000
                >= F.lit(int(thr)) * F.greatest("na", "nb").cast("long")
            )
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("shared_c"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
    )


# verify-side candidate-id prefilter bound: the broadcast id set is built
# only when the materialized candidate-pair count is at or below this, so
# the broadcast is bounded at ~2x this many longs (default ≈ 64 MB framed).
# Above it (enormous dup rate at corpus scale) the verify joins run against
# the full index exactly as before.
_VERIFY_PREFILTER_MAX_PAIRS = 4_000_000

# ...and the prefilter only engages at all when the INPUT's optimizer size
# estimate exceeds this: below it the whole index fits a handful of tasks
# and the probe's fixed cost (checkpoint + count job + broadcast build)
# exceeds what the joins save (measured: p6@sf0.1 — est 1.6 MiB — pays
# +0.15 s for the probe; p6@sf10 — est ≈ 230 MiB — saves 1.5-2 s, p38@sf10
# 6+ s). Unknown estimates read as 8 EiB and prefilter — fail-safe at
# scale, same convention as the save_df clustering bound.
_VERIFY_PREFILTER_MIN_INPUT_BYTES = 64 << 20


def _est_input_bytes(df: DataFrame) -> "int | None":
    """Optimizer pre-execution size estimate (column-pruned, no job)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 - estimate is best-effort
        return None


def _verify_prefilter_bound(df: DataFrame) -> "int | None":
    """Scale-adaptive prefilter decision for :func:`_verified_pair_counts`:
    the candidate-pair bound when ``df`` (the corpus input) is estimated
    large enough for the prefilter to pay, else ``None`` (skip)."""
    est = _est_input_bytes(df)
    if est is None or est > _VERIFY_PREFILTER_MIN_INPUT_BYTES:
        return _VERIFY_PREFILTER_MAX_PAIRS
    return None


def _verified_pair_counts(
    cands: DataFrame,
    ex_a: DataFrame,
    ex_b: DataFrame,
    left: str = "id_a",
    right: str = "id_b",
    prefilter_max_pairs: "int | None" = _VERIFY_PREFILTER_MAX_PAIRS,
) -> DataFrame:
    """COUNT(*)-based exact verify shared by the LSH/simhash families:
    restrict the inverted index(es) to candidate pairs and count the
    co-occurring shingles — fixed-width aggregation buffers, long-sized
    exchanges, never shingle arrays.

    Runtime specialization (the AQE trade, same as p5's hot probe): the
    candidate frame is materialized (its lazy checkpoint is read again by
    the first verify join) and probed with ONE bounded driver job — a
    ``limit(bound+1).count()``, so an over-bound candidate set (the
    pathological dup-rate regime) stops the probe after bound+1 rows
    instead of materializing every pair. When bounded by
    ``prefilter_max_pairs``, each index side is semi-filtered to the
    candidate ids through a broadcast BEFORE the verify joins. The indexes
    are corpus-sized (every doc × every shingle) while candidates are
    usually metadata-sized, so this turns the (right, g) exchange of the
    full index into an exchange of only candidate docs' rows — measured at
    sf10 (scripts/r10b_experiments.py E3): verify 2.8-3.3 s → 2.2 s with
    25k candidate pairs against an 80M-row index. A semi-join on the join
    key never changes inner-join results, so the output is exact either
    way; above the bound the broadcast is skipped (never an unbounded
    driver-side set).
    """
    if prefilter_max_pairs:
        cands = cands.localCheckpoint(eager=False)
        if cands.limit(prefilter_max_pairs + 1).count() <= prefilter_max_pairs:
            ids_a = cands.select(F.col(left).alias("id"))
            ids_b = cands.select(F.col(right).alias("id"))
            if ex_a is ex_b:
                ids = ids_a.unionByName(ids_b).distinct()
                ex_a = ex_b = ex_a.join(F.broadcast(ids), on="id", how="left_semi")
            else:
                ex_a = ex_a.join(F.broadcast(ids_a.distinct()), on="id", how="left_semi")
                ex_b = ex_b.join(F.broadcast(ids_b.distinct()), on="id", how="left_semi")
    return (
        cands.join(ex_a.select(F.col("id").alias(left), "g"), on=left)
        .join(ex_b.select(F.col("id").alias(right), "g"), on=[right, "g"])
        .groupBy(left, right)
        .agg(F.count(F.lit(1)).alias("shared_c"))
    )


def _jaccard_e4(shared: str, na: str, nb: str) -> F.Column:
    s, a, b = (F.col(c).cast("long") for c in (shared, na, nb))
    return F.floor((s * 10000) / (a + b - s)).cast("long")


def _pair_jaccard(ex: DataFrame, thr: int) -> DataFrame:
    """Exact Jaccard pairs from a size-carrying inverted index (id, n_sh, g):
    one self-join + one aggregation, no per-doc size frame to join back."""
    return (
        _pair_counts(ex, thr)
        .withColumn("jaccard_e4", _jaccard_e4("shared_c", "na", "nb"))
        .filter(F.col("jaccard_e4") >= thr)
        .select("id_a", "id_b", "jaccard_e4")
    )


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 64,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, sig: array<long>) — m independent minhashes per document.

    One explode + one groupBy(id) with m min() aggregates: a single
    shuffle keyed on id, carrying only (id, m×8 bytes)."""
    ex = _shingle_index(df, n, text_col, id_col)
    return _minhash_from_index(ex, num_hashes)


def _minhash_from_index(ex: DataFrame, num_hashes: int) -> DataFrame:
    # hash family: one 64-bit fingerprint per shingle (already in the
    # index), then m cheap (seed, h) long hashes — never m string hashes
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("g"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = ex.groupBy("id").agg(*aggs)
    return sig.select("id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"))


def _band_keys(doc: DataFrame, bands: int, r: int, h: "Callable[[int], F.Column]") -> DataFrame:
    """(id, bh) LSH bucket keys: one 64-bit hash per band over that band's r
    signature slots (band index folded into the hash as a seed — docs collide
    only when the same band's slots are equal, so capture is unchanged vs. a
    (band, hash) composite key; cross-band hash collisions merely add
    candidates the exact verify discards). ``h(k)`` yields signature slot k.
    Hashing the slot longs directly (no string concat) keeps the banding
    projection allocation-free."""
    return doc.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.xxhash64(F.lit(i), *[h(i * r + j) for j in range(r)])
                    for i in range(bands)
                ]
            )
        ).alias("bh"),
    )


def _bucket_pairs(
    banded: DataFrame,
    max_bucket_size: "int | None",
    left: str = "id_a",
    right: str = "id_b",
) -> DataFrame:
    """Distinct candidate pairs from LSH buckets: ONE aggregation on the
    bucket key, pairs enumerated in-row from the sorted member array — no
    bucket-census join and no bucket self-join. A k-member bucket emits
    k(k-1)/2 ordered pairs; buckets above ``max_bucket_size`` are dropped
    before any pair materializes (the quadratic guard every banding consumer
    inherits), which also bounds the in-row pair array at cap²/2 structs.

    Uncapped callers (``max_bucket_size=None`` — tests and deliberately
    guard-off gates) fall back to the bucket self-join: a degenerate bucket
    there must stream its k²/2 pairs through the join, never materialize
    them as one in-row array."""
    if max_bucket_size is None:
        l = banded.select(F.col("id").alias(left), "bh")
        r = banded.select(F.col("id").alias(right), "bh")
        return (
            l.join(r, on="bh")
            .filter(F.col(left) < F.col(right))
            .select(left, right)
            .distinct()
        )
    buckets = banded.groupBy("bh").agg(F.array_sort(F.collect_list("id")).alias("ids"))
    keep = (F.size("ids") >= 2) & (F.size("ids") <= int(max_bucket_size))
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        buckets.filter(keep)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias(left), F.col("p.b").alias(right))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: "int | None" = 1000,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, verified with exact Jaccard.

    banding: b=16 bands × r=4 rows ⇒ candidate-capture probability
    1-(1-j^r)^b (≈0.98 at j=0.7). Candidates come from a groupBy on
    (band, band-hash) buckets — never an all-pairs join — then are
    verified exactly (shingle-set Jaccard) so the output has no false
    positives. Buckets larger than ``max_bucket_size`` are dropped before
    the self-join (a k-doc bucket emits k²/2 candidates; at corpus scale a
    degenerate bucket is a quadratic blowup). Run :func:`dedup_exact`
    first — clusters of byte-identical documents land every band in the
    same bucket and are exact-dedup's job, not LSH's.
    Output: id_a, id_b, jaccard_e4.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    # The index is materialized ONCE (16 bytes/row, partitioned on id): the
    # signature aggregation reads it exchange-free and the two verify joins
    # read it again instead of re-running the shingling scan. Signatures and
    # the per-doc set size come from ONE HashAggregate — count() is a
    # fixed-width buffer, so fusing n_sh into the m min() aggregates is
    # free. (Fusing collect_list(g) of the shingle SET instead — tried
    # r10 — turned the aggregation into ObjectHashAggregate, whose hash map
    # falls back to SORT-based aggregation past 128 keys, and checkpointed
    # KB-sized array rows: p6@sf10 min 16.3 s → 56.5 s. Count-based verify
    # keeps every buffer fixed-width and every exchange long-sized.)
    ex = _materialize_index(
        _shingle_index(df, n, text_col, id_col).repartition("id")
    )
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("g"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    doc = ex.groupBy("id").agg(*aggs, F.count(F.lit(1)).alias("n_sh"))
    doc = doc.localCheckpoint(eager=False)  # read by banding AND the size join
    banded = _band_keys(doc, bands, r, lambda k: F.col(f"h{k}"))
    cands = _bucket_pairs(banded, max_bucket_size)
    # exact verify on the candidate set only (the minhash index has no
    # hot-cap, so the count IS the exact intersection size); the shared
    # helper also semi-filters the index to candidate ids when the probed
    # candidate count is bounded — see _verified_pair_counts
    pairs = _verified_pair_counts(
        cands, ex, ex, prefilter_max_pairs=_verify_prefilter_bound(df)
    )
    return _jaccard_from_counts(pairs, doc.select("id", "n_sh"), int(threshold * 10000))


def _jaccard_from_counts(
    pairs: DataFrame,
    sizes: DataFrame,
    thr: int,
    left_id: str = "id_a",
    right_id: str = "id_b",
    sizes_right: "DataFrame | None" = None,
) -> DataFrame:
    """Attach per-doc set sizes (id, n_sh) to (left_id, right_id, shared_c)
    pair counts and emit exact Jaccard — the exchanges carry three longs per
    row, never shingle arrays. ``sizes_right`` serves the cross-corpus case
    where the two pair sides come from different frames."""
    sr = sizes_right if sizes_right is not None else sizes
    return (
        pairs.join(sizes.select(F.col("id").alias(left_id), F.col("n_sh").alias("na")), on=left_id)
        .join(sr.select(F.col("id").alias(right_id), F.col("n_sh").alias("nb")), on=right_id)
        .withColumn("jaccard_e4", _jaccard_e4("shared_c", "na", "nb"))
        .filter(F.col("jaccard_e4") >= thr)
        .select(left_id, right_id, "jaccard_e4")
    )


def minhash_lsh_pairs_against(
    probe: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: "int | None" = 1000,
) -> DataFrame:
    """Cross-corpus MinHash+LSH near-duplicate pairs (fuzzy decontamination).

    The two-frame variant of :func:`minhash_lsh_pairs`: every output pair has
    its left id drawn from ``probe`` and its right id from ``corpus`` — the
    standard train/eval decontamination shape (probe = benchmark/eval set,
    corpus = training data), one fuzziness level up from the exact n-gram
    overlap of :func:`fugue_spark.pipeline.text.ngram_overlap`.

    Each side is shingled and signed independently (same hash family, so
    bucket keys are comparable), then candidates come from an equi-join of
    the two sides' (band, band-hash) buckets — never a cross join. The
    per-side ``max_bucket_size`` guard bounds the join fan-out at
    ``max_bucket_size²`` rows per degenerate bucket. Candidates are verified
    with exact shingle-set Jaccard, so the output has no false positives;
    like the self-join variant, banding can miss pairs only marginally above
    ``threshold`` (capture probability 1-(1-j^r)^b).

    The probe side is typically tiny (an eval suite) next to a 100-TB
    corpus: the probe's banded keys and shingle index are both
    metadata-sized, the corpus is touched by exactly one shingling scan,
    and every exchange carries longs, never text.

    Output: probe_id, corpus_id, jaccard_e4 (exact, floor-scaled).
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands

    def _side(frame: DataFrame) -> "tuple[DataFrame, DataFrame]":
        # per side: index materialized once (16 B/row, id-partitioned), then
        # signatures + per-doc size in ONE HashAggregate (same hash family on
        # both sides so bucket keys are comparable; count-based verify — see
        # the self-join variant for why no shingle arrays are materialized)
        ex = (
            _shingle_index(frame, n, text_col, id_col)
            .repartition("id")
            .localCheckpoint(eager=False)
        )
        aggs = [
            F.min(F.xxhash64(F.lit(i), F.col("g"))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
        doc = ex.groupBy("id").agg(*aggs, F.count(F.lit(1)).alias("n_sh"))
        return ex, doc.localCheckpoint(eager=False)

    exp, docp = _side(probe)
    exc, docc = _side(corpus)
    bp = _band_keys(docp, bands, r, lambda k: F.col(f"h{k}"))
    bc = _band_keys(docc, bands, r, lambda k: F.col(f"h{k}"))
    # per-side bucket membership lists (one aggregation each, capped per
    # side — the join fan-out stays bounded by max_bucket_size² per bucket),
    # then pairs enumerate from the joined lists
    pa = bp.groupBy("bh").agg(F.collect_list("id").alias("ia"))
    pc = bc.groupBy("bh").agg(F.collect_list("id").alias("ib"))
    if max_bucket_size is not None:
        pa = pa.filter(F.size("ia") <= int(max_bucket_size))
        pc = pc.filter(F.size("ib") <= int(max_bucket_size))
    cands = (
        pa.join(pc, on="bh")
        .select(F.explode("ia").alias("probe_id"), "ib")
        .select("probe_id", F.explode("ib").alias("corpus_id"))
        .distinct()
    )
    # exact verify on candidates only: count co-occurring shingles across the
    # two materialized indexes — exchanges carry (probe_id, corpus_id, g)
    # longs; each side is semi-filtered to its candidate ids when the probed
    # candidate count is bounded (see _verified_pair_counts — the corpus
    # index is the 100-TB side, the matched ids are metadata-sized)
    pairs = _verified_pair_counts(
        cands, exp, exc, left="probe_id", right="corpus_id",
        prefilter_max_pairs=_verify_prefilter_bound(corpus),
    )
    return _jaccard_from_counts(
        pairs,
        docp.select("id", "n_sh"),
        int(threshold * 10000),
        left_id="probe_id",
        right_id="corpus_id",
        sizes_right=docc.select("id", "n_sh"),
    )


def decontaminate(
    probe: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: "int | None" = 1000,
) -> DataFrame:
    """Drop every ``probe`` row that near-duplicates something in ``corpus``
    (same parameters as :func:`minhash_lsh_pairs_against`). Schema-preserving:
    returns ``probe`` rows as-is, filtered by a left-anti join on the matched
    probe ids (metadata-sized right side)."""
    hits = minhash_lsh_pairs_against(
        probe,
        corpus,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        n=n,
        text_col=text_col,
        id_col=id_col,
        max_bucket_size=max_bucket_size,
    ).select(F.col("probe_id").alias(id_col)).distinct()
    return probe.join(hits, on=id_col, how="left_anti")


_SIMHASH_BITS = 64
_SIMHASH_CHUNKS = 4


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """Fully-vectorized 64-bit simhash over word tokens, per Arrow batch.

    No per-word Python: ONE ``pd.util.hash_array`` call hashes every word
    in the batch (cython siphash with a fixed key — deterministic across
    runs, processes, and machines), ``np.unpackbits`` expands the bit
    planes, and ``np.add.reduceat`` at per-doc offsets produces the
    per-bit majority sums. ~2.3× the per-word-blake2b loop this replaced,
    with identical map-only plan shape.
    """
    word_lists = [str(t).lower().split() for t in texts]
    lens = np.array([len(w) for w in word_lists], dtype=np.int64)
    out = np.zeros(len(texts), dtype=np.uint64)
    nz = lens > 0
    if nz.any():
        all_words = np.array([w for wl in word_lists for w in wl], dtype=object)
        hs = pd.util.hash_array(all_words)  # uint64, deterministic fixed key
        bits = np.unpackbits(hs[:, None].view(np.uint8), axis=1, bitorder="little")
        if lens.max() > 254:  # reduceat in uint8 would wrap at 256 words
            bits = bits.astype(np.int16)
        offsets = np.zeros(len(texts), dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        sums = np.add.reduceat(bits, offsets[nz])
        v = (sums.astype(np.int64) * 2 >= lens[nz][:, None]).astype(np.uint64)
        out[nz] = (v << np.arange(64, dtype=np.uint64)).sum(axis=1, dtype=np.uint64)
    return pd.Series(out.astype(np.int64))


def _simhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_bucket_size: "int | None",
    n_chunks: int,
) -> DataFrame:
    """Banded simhash candidate pairs: (id_a, id_b, sh_a, sh_b), id_a<id_b.
    Shared by :func:`simhash_pairs` (popcount verify) and
    :func:`simhash_verified_pairs` (exact-Jaccard verify)."""
    if 64 % n_chunks != 0:
        raise ValueError(f"n_chunks must divide 64, got {n_chunks}")
    chunk_bits = 64 // n_chunks
    chunk_mask = (1 << chunk_bits) - 1
    sim_udf = F.pandas_udf(_simhash_batch, "long")
    # one python stage computes the signatures; ONE aggregation per bucket
    # key (chunk index folded into the key exactly: key = chunk·2^bits | ch
    # — no hash, so no cross-chunk collisions) collects the members and
    # enumerates pairs in-row from the sorted (id, sh) structs. No census
    # join, no self-join, and the python UDF runs in exactly one plan
    # branch, so no checkpoint is needed to stop Catalyst re-running it.
    s = df.select(F.col(id_col).alias("id"), sim_udf(F.col(text_col)).alias("sh"))
    chunks = s.select(
        F.struct("id", "sh").alias("m"),
        F.explode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("sh"), c * chunk_bits)
                    .bitwiseAND(F.lit(chunk_mask))
                    .bitwiseOR(F.lit(c << chunk_bits))
                    .alias("bk")
                    for c in range(n_chunks)
                ]
            )
        ).alias("bk"),
    )
    if max_bucket_size is None:
        # uncapped (guard-off callers): stream pairs through a bucket
        # self-join — a degenerate bucket's k²/2 pairs must never
        # materialize as one in-row array. The signature column rides the
        # join sides, so no extra lookup is needed. The python UDF feeds
        # both sides: checkpoint so it runs once.
        sc = chunks.select(F.col("m.id").alias("id"), F.col("m.sh").alias("sh"), "bk")
        sc = sc.localCheckpoint(eager=False)
        l = sc.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), "bk")
        r = sc.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), "bk")
        return (
            l.join(r, on="bk")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sh_a", "sh_b")
            .distinct()
        )
    buckets = chunks.groupBy("bk").agg(F.array_sort(F.collect_list("m")).alias("ms"))
    keep = (F.size("ms") >= 2) & (F.size("ms") <= int(max_bucket_size))
    pairs = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + F.lit(2), F.size(F.col("ms"))),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    x["sh"].alias("sh_a"),
                    y["sh"].alias("sh_b"),
                ),
            ),
        )
    )
    return (
        buckets.filter(keep)
        .select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b", "p.sh_a", "p.sh_b")
        .distinct()
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: "int | None" = 1000,
    n_chunks: int = _SIMHASH_CHUNKS,
) -> DataFrame:
    """SimHash near-dup pairs: per-row simhash (map-only vectorized pandas
    UDF), chunk banding, popcount verify.

    ``n_chunks`` (divisor of 64) is the recall/bucket-size knob: by
    pigeonhole, a pair with hamming < n_chunks ALWAYS shares a chunk, so
    candidate capture is guaranteed up to n_chunks-1 and probabilistic
    beyond. More chunks ⇒ fewer bits per bucket key ⇒ denser buckets —
    at corpus scale keep n_chunks small (default 4 × 16-bit) and let
    ``max_bucket_size`` drop degenerate buckets before the self-join
    (byte-identical clusters belong to :func:`dedup_exact`).
    Output: id_a, id_b, hamming.
    """
    cands = _simhash_candidates(df, text_col, id_col, max_bucket_size, n_chunks)
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cands.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_verified_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    max_hamming: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: "int | None" = 1000,
    n_chunks: int = 8,
) -> DataFrame:
    """SimHash as the candidate generator, exact n-gram Jaccard as the
    verify — the production near-dedup shape (cheap recall stage + exact
    precision stage), and a value-checkable output: every emitted pair has
    exact jaccard ≥ ``threshold``, so the result is ⊆ the exact-Jaccard
    pairs regardless of the hash.

    Recall/bucket-space trade (the simhash banding invariant): pigeonhole
    guarantees candidate capture to hamming ``n_chunks - 1``, but the key
    space is only ``n_chunks · 2^(64/n_chunks)`` buckets — n_chunks=16
    (4-bit chunks) has 256 buckets TOTAL, so beyond ~10⁴ docs every bucket
    exceeds any sane ``max_bucket_size`` and the cap silently voids the
    guarantee. Defaults are therefore the corpus-scale setting (n_chunks=8:
    capture to hamming 7, 2048 buckets of 8-bit keys — pairs at j ≥ 0.9
    land under that); small fixed corpora that need deep-hamming capture
    (the p7 gate) pass ``n_chunks=16, max_bucket_size=None`` explicitly.
    Pairs at jaccard ≥ 0.8 have cosine ≥ ~0.89 ⇒ expected hamming ≈ 9.7
    (64·acos(0.89)/π). ``max_hamming`` (default 20 ≈ +3.6σ) prunes the
    exact-verify fan-in; the verify itself is the count-based
    inverted-index join — exchanges carry ids + longs, never arrays.
    Output: id_a, id_b (a<b), jaccard_e4.
    """
    thr = int(threshold * 10000)
    cands = _simhash_candidates(df, text_col, id_col, max_bucket_size, n_chunks)
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    cand_ids = (
        cands.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b")
    )
    # exact verify on the candidate set only (same shape as minhash_lsh,
    # via the shared helper — no hot-cap, so the count is exact; the index
    # is semi-filtered to candidate ids when the probed candidate count is
    # bounded)
    ex = (
        _shingle_index(df, n, text_col, id_col)
        .repartition("id")
        .localCheckpoint(eager=False)
    )
    pairs = _verified_pair_counts(
        cand_ids, ex, ex, prefilter_max_pairs=_verify_prefilter_bound(df)
    )
    # sizes come from the UNFILTERED index: n_sh is each doc's full
    # shingle-set size, independent of the candidate prefilter
    sizes = ex.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    return _jaccard_from_counts(pairs, sizes, thr)


def near_dup_clusters(
    pairs: DataFrame, max_iters: int = 20, stats: "dict | None" = None
) -> DataFrame:
    """Connected components of the near-duplicate pair graph:
    (id, cluster) where cluster = the MIN id in the component.

    Each round does TWO label moves, both pure DataFrame ops (one
    equi-join + groupBy, then one self-join), no driver-side graph:

    1. neighbor-min: every node takes the smallest label among itself and
       its neighbors (handles dense near-dup blobs in one round);
    2. pointer jump (path doubling): every node then takes its LABEL's
       label — the hash-to-min contraction that makes adversarially long
       chains converge in O(log n) rounds instead of O(diameter): after
       round r every node points within distance 2^-r of its component
       min. A 1000-link chain converges in ~10 rounds (tested).

    Labels only decrease and every label is a node id, so the jump join is
    always resolvable; converged when no label changes. Lineage is cut per
    round (localCheckpoint) so the plan stays flat. ``stats["rounds"]``
    reports the rounds used when a dict is passed.
    """
    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")).unionByName(
        pairs.select(F.col("id_b").alias("a"), F.col("id_a").alias("b"))
    )
    edges = edges.localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("cluster", F.col("id"))
        .localCheckpoint()
    )
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        nbr_min = (
            edges.join(
                labels.select(F.col("id").alias("b"), F.col("cluster").alias("nc")),
                on="b",
            )
            .groupBy("a")
            .agg(F.min("nc").alias("nbc"))
        )
        stepped = labels.join(nbr_min, labels["id"] == nbr_min["a"], "left").select(
            F.col("id"),
            F.col("cluster").alias("__old__"),
            F.least(
                F.col("cluster"), F.coalesce(F.col("nbc"), F.col("cluster"))
            ).alias("cluster"),
        )
        # pointer jump: cluster <- label(cluster); monotone because the
        # parent's label is <= the parent id (labels never exceed ids)
        parent = stepped.select(
            F.col("id").alias("__pid__"), F.col("cluster").alias("__pc__")
        )
        # the convergence flag rides INSIDE the checkpointed round result
        # (one materializing action per round); the probe below only has to
        # find a single flagged row in the cached blocks (limit-1
        # short-circuit), not re-join old vs new labels as a second full job
        new = (
            stepped.join(parent, stepped["cluster"] == parent["__pid__"], "left")
            .select(
                F.col("id"),
                F.coalesce(F.col("__pc__"), F.col("cluster")).alias("cluster"),
                (
                    F.coalesce(F.col("__pc__"), F.col("cluster")) != F.col("__old__")
                ).alias("__chg__"),
            )
            .localCheckpoint()
        )
        changed = new.filter(F.col("__chg__")).limit(1).count()
        labels = new.drop("__chg__")
        if changed == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
    return labels


def dedup_near(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: "str | None" = None,
) -> DataFrame:
    """Drop near-duplicates: keep one survivor per connected component of
    the pair graph, plus every row in no pair. The standard final stage of
    a MinHash/SimHash dedup pipeline: ``dedup_near(docs,
    minhash_lsh_pairs(docs))``.

    Survivor rule: the MIN id (deterministic across engines and runs), or
    with ``score_col`` the HIGHEST-scoring member of each cluster (ties →
    min id) — the curation-quality variant: dedup against a quality score
    so the best document wins, not the earliest. Either way the joins ship
    only (id, cluster[, score]) — never the documents."""
    clusters = near_dup_clusters(pairs)
    if score_col is None:
        losers = clusters.filter(F.col("cluster") != F.col("id")).select("id")
    else:
        scored = clusters.join(
            df.select(
                F.col(id_col).alias("id"), F.col(score_col).alias("__score__")
            ),
            on="id",
        )
        best = scored.groupBy("cluster").agg(
            # max score, tie-broken by min id: max_by over (score, -id)
            F.max_by("id", F.struct(F.col("__score__"), (-F.col("id")).alias("__nid__"))).alias(
                "__keep__"
            )
        )
        losers = (
            scored.join(best, on="cluster")
            .filter(F.col("id") != F.col("__keep__"))
            .select("id")
        )
    return df.join(
        losers.withColumnRenamed("id", id_col), on=id_col, how="left_anti"
    )
