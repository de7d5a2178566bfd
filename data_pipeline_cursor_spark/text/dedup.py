"""Deduplication operators over the `documents` table (SURVEY.md §2.E E1/E2).

Not in the reference (it has no document processing; /root/reference is a
weather-stream lakehouse) — these are the driver-mandated LLM-training-data
operators, designed Spark-first for 100 TB:

- every operator is a pure DataFrame plan: hash-groupBy for exact dedup,
  equi-join on band/block keys for candidate generation — NO cross join of
  the corpus against itself anywhere;
- candidate verification (Jaccard) runs only on the band-joined pairs, so
  work is O(corpus + candidate_pairs), not O(n²);
- all hashes are the *portable 60-bit hash* `phash`: the first 15 hex chars
  of md5, parsed as a bigint.  Identical in Spark
  (`conv(substring(md5(x),1,15),16,10)`) and DuckDB
  (`('0x' || substr(md5(x),1,15))::BIGINT`), which makes MinHash/SimHash
  signatures fully oracle-checkable instead of rows-only.

Skew note (100 TB): band keys are 60-bit hashes → near-uniform; the exact
dedup groupBy keys on full text, where a pathological corpus (billions of
copies of one page) would skew a reducer — AQE skew handling is on
(session.py), and the group payload is a min/count pair, so partial
aggregation keeps reducer input tiny.

Cache lifetime: the intra-query caches here (tokenized docs feeding both
self-join sides, the minhash signature feeding two band joins) cannot be
unpersisted by the operator itself — the returned DataFrame is lazy and
still references them.  They live in Spark's LRU-evictable storage pool
(unified memory), so later queries reclaim the space under pressure; a
long-lived service that wants eager release should materialize the result
and call spark.catalog.clearCache() between jobs.  x_dedup_cluster, which
DOES materialize internally, unpersists its pairs cache in a finally.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_cursor_spark.registry import (
    artifact,
    read_artifact,
    register,
)
from data_pipeline_cursor_spark.sources import load_table
from data_pipeline_cursor_spark.sources.tables import table_path, tree_fingerprint
from data_pipeline_cursor_spark.text.packing import duck_splits_cte, split_col


def phash(col: Column, seed: str) -> Column:
    """Portable 60-bit hash of a string column (same value in DuckDB)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(seed + ":"), col)), 1, 15), 16, 10
    ).cast("bigint")


def _duck_phash(expr: str, seed: str) -> str:
    return f"('0x' || substr(md5('{seed}:' || {expr}), 1, 15))::BIGINT"


def tokens_col(text: str = "text") -> Column:
    return F.split(F.lower(F.col(text)), " ")


def shingles_col(tok: Column) -> Column:
    """3-word shingles from a token array (1-indexed, like DuckDB lists).

    Built by zipping the array against its 1- and 2-shifted tails
    (arrays_zip pads the short tails with NULL; concat_ws skips NULLs, so
    a <3-token document emits one PARTIAL shingle — the same edge
    semantics as DuckDB's out-of-range list index in the oracles).

    Why zip-shifted-tails and not transform(sequence(...), i ->
    concat_ws(element_at(tok, i), ...)): Catalyst performs no
    common-subexpression elimination inside higher-order-function
    lambdas, so when ``tok`` is the raw split(lower(text)) expression the
    indexed form re-tokenizes the document for EVERY element_at — 3 full
    re-splits per shingle, quadratic in document length.  Measured on the
    sf0.1 corpus (260k shingles): 5.06 s → 0.34 s for the same exploded
    rows (optimization guide §4.1: expression choice IS the per-task
    work).  Here the lambda touches only the zipped struct; ``tok`` is
    evaluated a constant number of times per row."""
    cnt = F.greatest(F.size(tok) - 2, F.lit(1))
    zipped = F.arrays_zip(
        F.slice(tok, 1, cnt), F.slice(tok, 2, cnt), F.slice(tok, 3, cnt)
    )
    return F.transform(
        zipped, lambda p: F.concat_ws(" ", p["0"], p["1"], p["2"])
    )


# DuckDB twin of tokens/shingles (list_transform over generate_series).
_DUCK_SHINGLES = """
    SELECT doc_id,
           list_transform(
             generate_series(1, greatest(len(string_split(lower(text),' ')) - 2, 1)),
             i -> concat_ws(' ', string_split(lower(text),' ')[i],
                                 string_split(lower(text),' ')[i+1],
                                 string_split(lower(text),' ')[i+2])
           ) AS shingles
    FROM documents
"""


_SYNTH_OFFSET = 10_000_000


def _rekey_synthetic(doc_id_col):
    """Re-key an injected synthetic copy above the real id space.

    Fixture invariant, GUARDED rather than assumed (round-7 ADVICE): if a
    corpus ever carried doc_ids >= the offset, the synthetic ids would
    silently collide with real documents — Spark and the DuckDB oracle
    would still agree (both apply the same arithmetic) but the duplicate
    report would be wrong.  The raise_error branch lives inside the
    projected expression itself so Catalyst cannot prune the check; the
    per-row cost is one comparison in codegen, no extra scan or action.
    """
    return F.when(
        doc_id_col < F.lit(_SYNTH_OFFSET), doc_id_col + F.lit(_SYNTH_OFFSET)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("synthetic re-key collision: doc_id "),
                doc_id_col.cast("string"),
                F.lit(f" >= {_SYNTH_OFFSET}"),
            )
        )
    )



@register(
    "x_dedup_exact",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id, text
        FROM documents WHERE doc_id % 17 = 0
    )
    SELECT text,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
           CAST(COUNT(*) AS BIGINT)    AS n_copies
    FROM corpus
    GROUP BY text
    HAVING COUNT(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (E1): hash-groupBy on the full text; keep the min doc_id.

    The corpus unions in a deterministic re-keyed copy of every 17th doc:
    the fixture has zero exact duplicates below sf0.1, which made this
    oracle vacuously empty at the sf0.01 gate (same class as round-2
    VERDICT item 1).  The union gives ~n/17 known duplicate groups at every
    SF while keeping the operator's semantics (exact text match) untouched.

    100 TB: one shuffle on text; partial agg (min,count) makes reducer input
    one row per distinct text.  For very long documents, group on
    md5(text) instead to shrink shuffle keys — same plan shape."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 17 == 0).select(
        _rekey_synthetic(F.col("doc_id")).alias("doc_id"), "text"
    )
    return (
        docs.unionByName(copies)
        .groupBy("text")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


def _minhash_signature(docs: DataFrame, n_hashes: int = 8) -> DataFrame:
    """doc_id + minhash_0..n over 3-word shingles (portable hash).

    All n minhashes come from ONE md5 per shingle — hash i is hex chars
    [1+8i, 8+8i) parsed as a 32-bit value — instead of n seeded md5s: the
    md5 is ~all of the signature cost, so this is an n× cut.  explode →
    md5 → groupBy(min×n) guarantees the single evaluation (a 4-way
    projection of transform() lambdas can be re-inlined by projection
    collapse); map-side partial min keeps the shuffle at one row per doc.

    The fixture is a single parquet file → one scan task; the shingle-hash
    projection is the dominant cost, so spread it across the cluster first.
    (At 100 TB the corpus arrives in thousands of splits and this
    repartition is a no-op to remove.)

    Hashes 4..7 (the WIDE-band config, x_dedup_minhash_wide) come from a
    second salted md5 ('mh2:') — one extra md5 per shingle, only computed
    when asked for."""
    assert n_hashes <= 8  # 2 md5s × 4 32-bit slices
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    sel = ["doc_id", F.md5(F.concat(F.lit("mh:"), F.col("s"))).alias("m")]
    if n_hashes > 4:
        sel.append(F.md5(F.concat(F.lit("mh2:"), F.col("s"))).alias("m2"))
    ex = docs.select(
        "doc_id", F.explode(shingles_col(tokens_col())).alias("s")
    ).select(*sel)
    aggs = [
        F.min(
            F.conv(F.substring("m", 1 + 8 * i, 8), 16, 10).cast("bigint")
        ).alias(f"mh{i}")
        for i in range(min(n_hashes, 4))
    ] + [
        F.min(
            F.conv(F.substring("m2", 1 + 8 * (i - 4), 8), 16, 10).cast(
                "bigint"
            )
        ).alias(f"mh{i}")
        for i in range(4, n_hashes)
    ]
    return ex.groupBy("doc_id").agg(*aggs)


_DUCK_MINHASH = f"""
    WITH sh AS MATERIALIZED ({_DUCK_SHINGLES}),
    ex AS (
      SELECT doc_id, md5('mh:' || s.sh) AS m
      FROM sh, unnest(shingles) AS s(sh)
    ),
    sig AS MATERIALIZED (
      SELECT doc_id,
             MIN(('0x' || substr(m, 1, 8))::BIGINT)  AS mh0,
             MIN(('0x' || substr(m, 9, 8))::BIGINT)  AS mh1,
             MIN(('0x' || substr(m, 17, 8))::BIGINT) AS mh2,
             MIN(('0x' || substr(m, 25, 8))::BIGINT) AS mh3
      FROM ex GROUP BY doc_id
    )
"""




NARROW_BANDS = [["mh0", "mh1"], ["mh2", "mh3"]]  # 4 hashes, 2 bands of r=2
WIDE_BANDS = [["mh0", "mh1", "mh2", "mh3"], ["mh4", "mh5", "mh6", "mh7"]]


def _duck_band_union(
    bands: list[list[str]],
    lcol: str = "doc_a",
    rcol: str = "doc_b",
    filt: str = "a.doc_id < b.doc_id",
) -> str:
    """Candidate-pair SQL over the ``sig`` CTE: a UNION of per-band
    equi-joins with explicit outer DISTINCT — the single source of truth
    for every banded oracle (narrow, wide, verified-candw, accuracy,
    incremental), so a band-definition change cannot drift between the
    operator oracles that must agree.

    Never an OR-of-conjunctions join (no extractable equi-keys -> both
    engines nested-loop) and never bare UNION (inside a WITH RECURSIVE
    chain DuckDB 1.0 does not dedup a non-recursive member's UNION)."""
    branches = []
    for cols in bands:
        on = " AND ".join(f"a.{c} = b.{c}" for c in cols)
        branches.append(
            f"SELECT a.doc_id AS {lcol}, b.doc_id AS {rcol}\n"
            f"        FROM sig a JOIN sig b\n"
            f"          ON {on}\n"
            f"         AND {filt}"
        )
    body = "\n        UNION ALL\n        ".join(branches)
    return (
        f"SELECT DISTINCT {lcol}, {rcol} FROM (\n        {body}\n      )"
    )


@register(
    "x_dedup_minhash_narrow",
    foil=True,
    # per-band equi-joins + UNION, not an OR-of-conjunctions join: the OR
    # form has no extractable equi-keys, so BOTH engines degrade to a
    # nested-loop self-join — observed in DuckDB at sf10 (500 k sigs →
    # ~1.2e11 comparisons, the oracle itself becomes the quadratic plan
    # the operator exists to avoid); the UNION form hash-joins
    oracle=_DUCK_MINHASH + "\n    " + _duck_band_union(NARROW_BANDS),
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidates at the NARROW fixture band width (4 minhashes,
    2 bands of r=2) — kept registered ONLY as the calibration foil of
    x_minhash_accuracy, which measures exactly this config's estimator
    error.  Renamed from ``x_dedup_minhash`` in round 7 so no caller can
    mistake it for the default: the round-6 sf10 run measured its
    background-collision candidate count going quadratic
    (394 → 20.8 k → 1.98 M at sf0.1/sf1/sf10).  The E2 primary is
    ``x_dedup_minhash_wide`` (r=4 bands, candidates ~linear), and the
    downstream graph consumers default to ``x_dedup_minhash_verified``.

    100 TB plan shape (shared by every band width): the self-join is TWO
    equi-joins on band keys (union), each a shuffle on a hash tuple —
    never a cross join.  Banding theory: with k hashes in b bands of r,
    P(candidate) = 1-(1-j^r)^b for Jaccard j; tune (b, r) per corpus."""
    docs = load_table(spark, sf_dir, "documents")
    # cache: the signature feeds both sides of two self-joins — without it
    # the 4×|shingles| hash pipeline runs four times
    sig = _minhash_signature(docs, 4).cache()

    def band_join(k1: str, k2: str) -> DataFrame:
        # equi-join per band: an OR of band equalities in one join predicate
        # has no extractable equi-keys and degenerates to a nested-loop join
        # (observed 100× slower) — always UNION per-band equi-joins instead
        a = sig.select(
            F.col("doc_id").alias("doc_a"),
            F.col(k1).alias("b1"),
            F.col(k2).alias("b2"),
        )
        b = sig.select(
            F.col("doc_id").alias("doc_b"),
            F.col(k1).alias("b1"),
            F.col(k2).alias("b2"),
        )
        return a.join(b, ["b1", "b2"]).filter(
            F.col("doc_a") < F.col("doc_b")
        ).select("doc_a", "doc_b")

    return (
        band_join("mh0", "mh1")
        .unionByName(band_join("mh2", "mh3"))
        .distinct()  # a pair may collide in both bands
    )


_DUCK_MINHASH_WIDE = f"""
    WITH sh AS MATERIALIZED ({_DUCK_SHINGLES}),
    ex AS (
      SELECT doc_id, md5('mh:' || s.sh) AS m, md5('mh2:' || s.sh) AS m2
      FROM sh, unnest(shingles) AS s(sh)
    ),
    sig AS MATERIALIZED (
      SELECT doc_id,
             MIN(('0x' || substr(m, 1, 8))::BIGINT)   AS mh0,
             MIN(('0x' || substr(m, 9, 8))::BIGINT)   AS mh1,
             MIN(('0x' || substr(m, 17, 8))::BIGINT)  AS mh2,
             MIN(('0x' || substr(m, 25, 8))::BIGINT)  AS mh3,
             MIN(('0x' || substr(m2, 1, 8))::BIGINT)  AS mh4,
             MIN(('0x' || substr(m2, 9, 8))::BIGINT)  AS mh5,
             MIN(('0x' || substr(m2, 17, 8))::BIGINT) AS mh6,
             MIN(('0x' || substr(m2, 25, 8))::BIGINT) AS mh7
      FROM ex GROUP BY doc_id
    )
"""


@register(
    "x_dedup_minhash_wide",
    uses=("minhash_base",),
    # UNION of per-band equi-joins (hash-joinable) — see
    # x_dedup_minhash_narrow's oracle note for why the OR form is banned
    oracle=_DUCK_MINHASH_WIDE + "\n    " + _duck_band_union(WIDE_BANDS),
)
def dedup_minhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidates at the CORPUS-TUNED band width: 8 minhashes
    in 2 bands of r=4 (vs x_dedup_minhash's fixture width of 2 bands of
    r=2) — "tune (b, r) per corpus" as shipped code, not a docstring.

    Why this exists (round-6 sf10 scale run): with b bands of r rows,
    P(candidate | Jaccard j) = 1-(1-j^r)^b, so the RANDOM-pair candidate
    rate is ~b·j̄^r for the corpus's background similarity j̄.  On this
    low-entropy fixture corpus j̄ is high enough that the r=2 width goes
    quadratic as the corpus grows — measured candidate pairs: 394 at
    sf0.1 (5 k docs) → 20.8 k at sf1 (50 k docs, 53× for 10× docs) →
    ~1.4 M at sf10 (500 k docs), where the downstream exact-Jaccard
    verify and clustering blow up with it.  Squaring the row count
    (r=4) squares the background rate while keeping near-dup recall
    (j ≥ 0.8 still collides with P ≈ 1-(1-0.41)^2 ≈ 0.65 per band pair):
    the measured wide-config candidate counts scale ~linearly with the
    corpus.  Same plan shape — two equi-joins on 4-hash tuple keys,
    UNION, distinct; the extra md5 is one per shingle."""
    sig, _sets = read_artifact("minhash_base", spark, sf_dir) or (None, None)
    return minhash_wide_candidates_df(
        load_table(spark, sf_dir, "documents"), sig=sig
    )


def minhash_wide_candidates_df(
    docs: DataFrame, sig: DataFrame | None = None
) -> DataFrame:
    """Wide-band (8 hashes, 2 bands of r=4) LSH candidate pairs over ANY
    docs DataFrame with (doc_id, text) — the reusable core of
    x_dedup_minhash_wide, also consumed by x_split_leakage's
    injected-duplicate corpus.  Pass ``sig`` (doc_id, mh0..mh7) to reuse a
    precomputed signature table (the shared minhash_base); results are
    identical because the signature is a pure function of each doc's
    text."""
    if sig is None:
        sig = _minhash_signature(docs, 8).cache()

    def band_join(cols: list[str]) -> DataFrame:
        a = sig.select(
            F.col("doc_id").alias("doc_a"),
            *[F.col(c).alias(f"b{i}") for i, c in enumerate(cols)],
        )
        b = sig.select(
            F.col("doc_id").alias("doc_b"),
            *[F.col(c).alias(f"b{i}") for i, c in enumerate(cols)],
        )
        return (
            a.join(b, [f"b{i}" for i in range(len(cols))])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )

    return (
        band_join(["mh0", "mh1", "mh2", "mh3"])
        .unionByName(band_join(["mh4", "mh5", "mh6", "mh7"]))
        .distinct()
    )


@register(
    "x_dedup_simhash",
    oracle="""
    WITH tok AS (
      SELECT doc_id, t.tk
      FROM documents, unnest(list_distinct(string_split(lower(text),' '))) AS t(tk)
    ),
    bits AS (
      SELECT doc_id, {bit_exprs}
      FROM tok GROUP BY doc_id
    )
    SELECT doc_id, CAST({sig_expr} AS BIGINT) AS simhash16 FROM bits
    """.format(
        bit_exprs=",\n             ".join(
            "CASE WHEN SUM(CASE WHEN (('0x' || substr(md5('sh:' || tk), 1, 15))::BIGINT >> {j}) & 1 = 1 "
            "THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS b{j}".format(j=j)
            for j in range(16)
        ),
        sig_expr=" + ".join(f"b{j} * {1 << j}" for j in range(16)),
    ),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (E2 variant): 16-bit signature; bit j is the sign of the sum
    of ±1 votes from bit j of each distinct token's portable hash.

    Near-dups differ in ≤k bits → group/bucket by signature (or by signature
    bands for hamming-distance search).  100 TB: explode+groupBy is one
    shuffle on doc_id; the 16 conditional sums fold map-side."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens_col())).alias("tk")
    )
    h = phash(F.col("tk"), "sh")
    votes = [
        F.when(((F.shiftright(h, j)).bitwiseAND(F.lit(1))) == 1, 1)
        .otherwise(-1)
        .alias(f"v{j}")
        for j in range(16)
    ]
    bits = tok.select("doc_id", *votes).groupBy("doc_id").agg(
        *[
            F.when(F.sum(f"v{j}") > 0, 1).otherwise(0).alias(f"b{j}")
            for j in range(16)
        ]
    )
    sig = sum(F.col(f"b{j}") * (1 << j) for j in range(16))
    return bits.select("doc_id", sig.cast("bigint").alias("simhash16"))


JACCARD_THRESHOLD = 0.6

def _duck_jaccard_d(src: str = "documents") -> str:
    return f"""
      SELECT doc_id, lang,
             string_split(lower(text),' ')[1] AS head_tok,
             list_distinct(string_split(lower(text),' ')) AS toks
      FROM {src}
"""


_DUCK_JACCARD_D = _duck_jaccard_d()

_DUCK_JACCARD_EXPR = (
    "len(list_intersect(a.toks, b.toks))"
    " / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE)"
)

_DUCK_JACCARD_ON = (
    "a.lang = b.lang AND a.head_tok = b.head_tok AND a.doc_id < b.doc_id"
)

# single source of truth for the candidate-pair SQL: the scoring oracle
# (x_dedup_jaccard) and the clustering oracle (x_dedup_cluster) both build
# on it, so a threshold/blocking change cannot drift between them
def duck_jaccard_pairs(src: str = "documents") -> str:
    """Candidate-pair SQL over any relation with (doc_id, lang, text)."""
    d = _duck_jaccard_d(src)
    return f"""
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ({d}) a JOIN ({d}) b ON {_DUCK_JACCARD_ON}
      WHERE {_DUCK_JACCARD_EXPR} >= {JACCARD_THRESHOLD}
"""


_DUCK_JACCARD_PAIRS = duck_jaccard_pairs()


def jaccard_pairs_df(docs: DataFrame) -> DataFrame:
    """Jaccard near-dup pairs (doc_a < doc_b, rounded score) over ANY docs
    DataFrame with (doc_id, lang, text) — shared by x_dedup_jaccard,
    x_dedup_cluster, and the curation pipeline, which runs it on an
    already-filtered corpus."""
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    # cache: tokenization feeds both self-join sides (LRU-managed; module
    # docstring on cache lifetime)
    d = docs.select(
        "doc_id",
        "lang",
        F.element_at(tokens_col(), 1).alias("head_tok"),
        F.array_distinct(tokens_col()).alias("toks"),
    ).cache()
    a, b = d.alias("a"), d.alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.array_distinct(F.concat(F.col("a.toks"), F.col("b.toks"))))
    jac = inter / union.cast("double")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.head_tok") == F.col("b.head_tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(jac >= JACCARD_THRESHOLD)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 4).alias("jaccard"),
        )
    )


@register(
    "x_dedup_jaccard_prefix",
    foil=True,
    oracle=f"""
    WITH d AS ({_DUCK_JACCARD_D})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND({_DUCK_JACCARD_EXPR}, 4) AS jaccard
    FROM d a JOIN d b ON {_DUCK_JACCARD_ON}
    WHERE {_DUCK_JACCARD_EXPR} >= {JACCARD_THRESHOLD}
    """,
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard near-dup pairs with PREFIX BLOCKING: only pairs
    sharing (lang, first token) are compared — an equi-join, so the
    candidate set is O(block²) per block, not O(n²) over the corpus.

    FIXTURE-SCALE CANDIDATE FAMILY (renamed `_prefix` in round 8,
    completing the round-7 demotion — the same discipline that renamed
    x_dedup_minhash_narrow): the round-6 sf10 run measured this blocking
    going quadratic on a low-entropy corpus (x_dedup_cluster over these
    pairs: 3,143 s; x_canonical_pick: OOM at 16 AND 48 GiB driver), and
    the round-8 sf10 run measured THIS scorer itself at 1,806.6 s where
    the wide-band default family runs in seconds.  `x_dedup_jaccard`
    (unsuffixed) now scores the same token-set Jaccard over the
    wide-band candidate family; this stays registered as the measured
    blocking-strategy contrast."""
    return jaccard_pairs_df(load_table(spark, sf_dir, "documents"))


# the wide-band signature CTE chain with its leading WITH stripped, so it
# can be spliced after other CTEs (same idiom as _DUCK_WIDE_CAND_SETS)
_DUCK_MINHASH_WIDE_INLINE = _DUCK_MINHASH_WIDE.replace(
    "WITH sh AS", "sh AS", 1
).lstrip()


@register(
    "x_dedup_jaccard",
    oracle=f"""
    WITH {_DUCK_MINHASH_WIDE_INLINE},
    candw AS ({_duck_band_union(WIDE_BANDS)}),
    tokd AS MATERIALIZED (
      SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks
      FROM documents
    )
    SELECT c.doc_a, c.doc_b,
           ROUND(len(list_intersect(ta.toks, tb.toks))
                 / CAST(len(list_distinct(list_concat(ta.toks, tb.toks)))
                        AS DOUBLE), 4) AS jaccard
    FROM candw c
    JOIN tokd ta ON ta.doc_id = c.doc_a
    JOIN tokd tb ON tb.doc_id = c.doc_b
    WHERE len(list_intersect(ta.toks, tb.toks))
          / CAST(len(list_distinct(list_concat(ta.toks, tb.toks))) AS DOUBLE)
          >= {JACCARD_THRESHOLD}
    """,
)
def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-SET Jaccard near-dup pairs (E2's n-gram-Jaccard variant) over
    the WIDE-BAND minhash candidate family — the scale-safe default as of
    round 8 (the prefix-blocked original is registered as
    x_dedup_jaccard_prefix, the measured 1,806 s-at-sf10 contrast).
    Distinct from x_dedup_minhash_verified, which verifies SHINGLE-set
    resemblance: token-set scores rank near-dups by vocabulary overlap
    (robust to local reordering), shingle scores by phrase overlap —
    curation pipelines read both.

    Plan: one signature pass (8 md5 minhashes/doc), per-band equi-joins
    unioned for candidates (~linear in corpus — the round-6/7 measured
    family), two |candidates|-sized joins to fetch token sets, one
    array-intersect score per candidate.  Nothing is ever corpus×corpus;
    100 TB cost = signature scan + candidate-grain work."""
    docs = load_table(spark, sf_dir, "documents")
    cand = minhash_wide_candidates_df(docs)
    # no cache: ta/tb both read inside ONE job, and an unreleased cache
    # here accumulated executor memory across a 285-query bench session
    # (round-8 ADVICE item 2)
    toks = docs.select(
        "doc_id", F.array_distinct(tokens_col()).alias("toks")
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size(F.array_union("ta", "tb"))
    jac = inter / union.cast("double")
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# (doc_a, doc_b, jaccard) CTE chain for the WIDE-BAND VERIFIED pairs — the
# round-7 default pair source for every dedup-graph oracle (cluster,
# pagerank, canonical pick, pair table, triangles, split leakage).
# candw is a UNION of per-band equi-joins, NOT an OR-of-conjunctions join
# (which nested-loops in DuckDB exactly as it would in Spark — the oracle
# must scale with the operator it checks).
# Shared prefix: wide-band candidates + distinct shingle sets — the pair
# verify (below) and the containment scorer (x_dedup_containment) both
# splice their own scoring CTE after this chain.
_DUCK_WIDE_CAND_SETS = (
    _DUCK_MINHASH_WIDE.replace("WITH sh AS", "sh AS", 1).lstrip()
    + f""",
    candw AS ({_duck_band_union(WIDE_BANDS)}),
    setsw AS MATERIALIZED (SELECT doc_id, list_distinct(shingles) AS ss FROM sh)"""
)

_DUCK_WIDE_VERIFIED_PAIRS = (
    _DUCK_WIDE_CAND_SETS
    + f""",
    pairs AS MATERIALIZED (
      SELECT c.doc_a, c.doc_b,
             ROUND(len(list_intersect(sa.ss, sb.ss))
                   / CAST(len(list_distinct(list_concat(sa.ss, sb.ss)))
                          AS DOUBLE), 4) AS jaccard
      FROM candw c
      JOIN setsw sa ON sa.doc_id = c.doc_a
      JOIN setsw sb ON sb.doc_id = c.doc_b
      WHERE len(list_intersect(sa.ss, sb.ss))
            / CAST(len(list_distinct(list_concat(sa.ss, sb.ss))) AS DOUBLE)
            >= {JACCARD_THRESHOLD}
    )"""
)


def duck_wide_verified_pairs(src: str = "documents") -> str:
    """The wide-verified pair CTE chain over ANY relation with
    (doc_id, text) — ends in a ``pairs`` CTE; splice after your own CTEs
    (x_split_leakage's injected corpus, x_curation_pipeline's gated
    corpus)."""
    return _DUCK_WIDE_VERIFIED_PAIRS.replace("FROM documents", f"FROM {src}")


# ---------------------------------------------------------------------------
# Shared artifacts (round-8 VERDICT item 5): the data-heavy prefixes the
# dedup-graph family and the derived minhash pipelines start from (~30-60 s
# each at sf10), eagerly localCheckpoint'ed — see registry.ArtifactScope.


def _documents_stamp(sf_dir: str) -> str:
    # Data-file fingerprint, not the table's own inode stat: an in-place
    # part-file overwrite leaves a DIRECTORY's mtime+size unchanged
    # (round-9 ADVICE item 2 — the sf1/sf10 fixtures are directories).
    # Without it a long-lived session would silently serve pre-rewrite
    # pairs from a regenerated documents fixture at the same path.
    return tree_fingerprint(table_path(sf_dir, "documents"))


@artifact("minhash_base", _documents_stamp)
def _minhash_base(spark: SparkSession, sf_dir: str):
    """(8-hash signatures, shingle sets) over the BASE documents table:
    the PER-DOCUMENT artifacts every minhash pipeline starts from.  A
    doc's signature and shingle set depend only on its own text — never on
    the corpus around it — so they serve every DERIVED corpus the registry
    builds from the same rows by id arithmetic instead of re-hashing text:
    x_split_leakage's injected copies keep their signature under a
    re-keyed id, x_curation_pipeline's gated corpus is an id join, and a
    4-hash signature is a projection of the 8-hash one (mh0..3 come from
    the same md5 slices).  At sf10 the signature pass alone is ~33 s and
    the set projection ~15 s, paid once instead of once per pipeline."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sig = _minhash_signature(docs, 8).localCheckpoint(eager=True)
    sets = docs.select(
        "doc_id", F.array_distinct(shingles_col(tokens_col())).alias("ss")
    ).localCheckpoint(eager=True)
    return sig, sets


@artifact("scored_pairs", _documents_stamp, needs=("minhash_base",))
def _scored_pairs(spark: SparkSession, sf_dir: str, base) -> DataFrame:
    """The UNTHRESHOLDED scored candidate table (doc_a, doc_b, jraw):
    every consumer derives its exact current expression from the
    materialized column — the verified family filters raw >=
    JACCARD_THRESHOLD, the sweep rounds then compares — so hashes are
    unchanged by construction.  The checkpoint itself is tiny
    (candidate-grain); minhash_base carries the bulk."""
    sig, sets = base
    return scored_candidates_df(
        load_table(spark, sf_dir, "documents"), sig=sig, sets=sets
    ).localCheckpoint(eager=True)


def _verified_pairs_checkpointed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The default (doc_a, doc_b) edge source for the dedup-graph stack:
    x_dedup_minhash_verified's wide-band + exact-Jaccard-verified pairs,
    eagerly localCheckpoint'ed (materialized AND lineage-truncated) so
    iterative consumers don't re-run the signature/verify pipeline per
    reference.  Inside an artifact scope the pairs are a cheap filter
    over the session's shared scored-candidate checkpoint instead of a
    per-consumer pipeline run."""
    pairs = dedup_minhash_verified(spark, sf_dir).select("doc_a", "doc_b")
    if read_artifact("scored_pairs", spark, sf_dir) is not None:
        return pairs
    return pairs.localCheckpoint(eager=True)


@register(
    "x_pair_table",
    uses=("scored_pairs",),
    oracle=f"""
    WITH {_DUCK_WIDE_VERIFIED_PAIRS}
    SELECT doc_a,
           CAST(COUNT(*) AS BIGINT)   AS n_partners,
           ROUND(MAX(jaccard), 4)     AS best_jaccard,
           CAST(MIN(doc_b) AS BIGINT) AS first_partner
    FROM pairs
    GROUP BY doc_a
    """,
)
def pair_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized candidate-pair table — the dedup stack's analog of
    x_token_table: compute the verified near-dup pairs ONCE, persist
    (doc_a, doc_b, jaccard) as parquet, read back, and aggregate a
    per-document partner summary from the table — the hash check proves
    the materialization lossless end to end.

    Round 7: the persisted pairs are x_dedup_minhash_verified's wide-band
    + exact-Jaccard family (candidates ~linear in the corpus — round-6
    sf10 measurement), not the prefix-block join that went quadratic.

    At 100 TB this table is the shared input of clustering
    (x_dedup_cluster), ranking (x_pagerank), calibration
    (x_minhash_accuracy) and the canonical pick — amortizing the
    signature + verify (the dedup stack's data-heavy stage) across
    all consumers exactly as x_canonical_pick's in-memory
    localCheckpoint does within one job.  Write it bucketed by doc_a and
    the label-propagation joins also start co-located."""
    from data_pipeline_cursor_spark.sources.formats import _work_dir

    pairs = dedup_minhash_verified(spark, sf_dir)
    path = _work_dir(sf_dir, "pair_table")
    pairs.write.mode("overwrite").parquet(path)
    table = spark.read.schema(pairs.schema).parquet(path)
    return table.groupBy("doc_a").agg(
        F.count(F.lit(1)).alias("n_partners"),
        F.round(F.max("jaccard"), 4).alias("best_jaccard"),
        F.min("doc_b").alias("first_partner"),
    )



@register(
    "x_dedup_cluster",
    uses=("scored_pairs",),
    oracle=f"""
    WITH RECURSIVE {_DUCK_WIDE_VERIFIED_PAIRS},
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach AS (
      SELECT u AS node, u AS lbl FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.v AS node, r.lbl FROM reach r JOIN edges e ON e.u = r.node
    )
    SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dedup_cluster(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """Near-dup CLUSTERING (E2 completion): connected components over the
    near-dup pairs, labelling every involved doc with the min doc_id of
    its component — the canonical-doc assignment a dedup pipeline keeps.

    Round 7: the default edge source is x_dedup_minhash_verified's
    wide-band + exact-Jaccard pairs — the composition the round-6 sf10
    run measured at 2.4 s over 500 k docs, where the prefix-block
    candidate family (now x_dedup_cluster_prefix) took 3,143 s.

    Iterative min-label propagation with POINTER JUMPING: each round a
    node takes the min of its own and its neighbours' labels, then
    follows its label's label (lbl ← lbl(lbl)) — the jump halves chain
    depth every round, so convergence is O(log diameter) instead of
    O(diameter) (observed 5 rounds vs 20+ on sf0.1's chain-shaped
    clusters).  The per-round driver work is ONE boolean (did any label
    change), never the data.  The DuckDB oracle replays the closure with
    a recursive CTE, so cluster ids are value-checked.

    100 TB: this is the textbook Spark CC shape (neighbour-min =
    large-star, jump = small-star); the label table is ~|involved docs|
    (sparse near-dup graph), far below corpus size.  Shuffle width is
    pinned low for the loop — label/edge rows are a few machine words
    each, and at fixture scale empty-partition scheduling would dominate;
    size it to |edges| at deployment.

    ``pairs``: an already-materialized (doc_a, doc_b) candidate table
    (x_canonical_pick passes one so cluster + PageRank share a single
    Jaccard computation — the x_pair_table pattern); default recomputes."""
    owns_pairs = pairs is None
    if owns_pairs and read_artifact("scored_pairs", spark, sf_dir) is not None:
        # suite-run sharing: the checkpointed scored table already
        # materialized the data-heavy stage once for the whole session
        pairs = _verified_pairs_checkpointed(spark, sf_dir)
    elif owns_pairs:
        # materialize the candidate pairs at FULL shuffle width before
        # narrowing it for the label loop: the signature + verify pipeline
        # is the data-heavy stage and feeds both union branches of the
        # edge list
        pairs = (
            dedup_minhash_verified(spark, sf_dir)
            .select("doc_a", "doc_b")
            .cache()
        )
    # size the label loop's shuffle width to the EDGE COUNT, not a fixture
    # constant: 8 was right for sf0.1's ~400 edges (empty-partition
    # scheduling dominates below that) but starves the loop at the sf10
    # scale run's ~1.4 M edges (round-6 finding).  ~100 k edge rows per
    # partition keeps each round's shuffle blocks small-integer sized.
    n_edges = pairs.count()
    loop_sp = min(64, max(8, n_edges // 100_000))
    fwd = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(loop_sp))
    try:
        # localCheckpoint, NOT cache(): each round's plan references the
        # previous round's labels 3× (neighbour-min, step, convergence
        # probe); with cache() the loop's self-referential plans missed
        # the cache and recomputed the full lineage 3^k-fold (observed
        # 88 s; checkpointed: 8 s).  Eager checkpoint = materialize AND
        # truncate lineage — the standard shape for iterative Spark algos.
        edges = (
            fwd.union(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        labels = (
            edges.select(F.col("u").alias("node")).distinct()
            .withColumn("lbl", F.col("node"))
            .localCheckpoint(eager=True)
        )
        for _ in range(25):
            nb_min = (
                edges.join(labels, edges["v"] == labels["node"])
                .groupBy("u")
                .agg(F.min("lbl").alias("nb_lbl"))
                .withColumnRenamed("u", "node")
            )
            stepped = labels.join(nb_min, "node", "left").select(
                "node",
                F.least(F.col("lbl"), F.coalesce("nb_lbl", "lbl")).alias("lbl"),
            )
            # pointer jump: lbl ← lbl(lbl); halves chain depth per round
            hop = stepped.select(
                F.col("node").alias("lbl"), F.col("lbl").alias("hop_lbl")
            )
            new_labels = (
                stepped.join(hop, "lbl", "left")
                .select(
                    "node",
                    F.least(
                        F.col("lbl"), F.coalesce("hop_lbl", "lbl")
                    ).alias("lbl"),
                )
                .localCheckpoint(eager=True)
            )
            changed = (
                new_labels.withColumnRenamed("lbl", "new")
                .join(labels, "node")
                .filter(F.col("new") != F.col("lbl"))
                .limit(1)
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        else:
            raise RuntimeError(
                "connected components did not converge in 25 rounds"
            )
        return labels.select(
            F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
        )
    finally:
        if owns_pairs:
            pairs.unpersist()
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)


_PR_SCALE = 1_000_000  # fixed-point rank scale
_PR_ROUNDS = 2  # oracle unrolls the same fixed count


def _duck_pr_round(prev: str) -> str:
    """One integer PageRank round: contributions r//deg summed per target,
    damped as 150000 + (85·Σ)//100 — all BIGINT, fold-order-free."""
    return f"""
      SELECT e.v AS node,
             150000 + (85 * SUM(p.r // p.d)) // 100 AS r
      FROM edges e JOIN {prev} p ON p.node = e.u
      GROUP BY e.v
    """


_PAGERANK_ORACLE = f"""
    WITH {_DUCK_WIDE_VERIFIED_PAIRS},
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY u),
    r0 AS (SELECT u AS node, CAST({_PR_SCALE} AS BIGINT) AS r, deg AS d
           FROM deg),
    r1c AS ({_duck_pr_round('r0')}),
    r1 AS (SELECT r1c.node, r1c.r, deg.deg AS d
           FROM r1c JOIN deg ON deg.u = r1c.node),
    r2c AS ({_duck_pr_round('r1')})
    SELECT node AS doc_id, CAST(r AS BIGINT) AS rank
    FROM r2c
"""


@register(
    "x_pagerank", oracle=_PAGERANK_ORACLE, uses=("scored_pairs",)
)
def pagerank(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """Fixed-point PageRank over the near-dup graph
    (x_dedup_minhash_verified's wide-band verified pairs since round 7,
    symmetrized) — the second iterative graph algorithm
    after x_dedup_cluster's connected components, and the ranking signal a
    dedup pipeline uses to pick the CANONICAL copy inside a cluster (keep
    the most-linked duplicate, not the lowest id).

    Determinism strategy is x_kmeans_int8's: ranks are integers at scale
    10⁶; each round's contribution is r // deg (exact integer division)
    and damping is 150000 + (85·Σ)//100 — every operation is an
    order-free integer fold, so {_PR_ROUNDS} unrolled rounds hash-match
    the DuckDB CTE replay exactly.  (Float PageRank cannot be oracle'd:
    the per-target sum's fold order drifts last-ulp across engines.)

    100 TB: per round, one join of the edge list against the rank table
    (both keyed by node — co-partitioned after the first shuffle) and one
    partial-aggregated groupBy; rank-table size is |nodes in the near-dup
    graph|, far below corpus size.  More rounds = same plan repeated;
    lineage is kept flat by re-deriving from the cached pair set exactly
    like x_dedup_cluster.

    ``pairs``: an already-materialized (doc_a, doc_b) candidate table
    (x_canonical_pick shares one across cluster + PageRank); default
    recomputes and caches its own."""
    if pairs is None and (
        read_artifact("scored_pairs", spark, sf_dir) is not None
    ):
        pairs = _verified_pairs_checkpointed(spark, sf_dir)  # suite sharing
    elif pairs is None:
        pairs = (
            dedup_minhash_verified(spark, sf_dir)
            .select("doc_a", "doc_b")
            .cache()
        )
        pairs.count()
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        fwd = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        rev = pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
        # cache the symmetrized edge list: the lazy round chain references
        # it 2× per round (join + next round's lineage) plus deg — without
        # the cache each reference re-runs the union+distinct shuffle
        edges = fwd.union(rev).distinct().cache()
        deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        ranks = deg.select(
            F.col("u").alias("node"),
            F.lit(_PR_SCALE).cast("long").alias("r"),
            F.col("deg").alias("d"),
        )
        for i in range(_PR_ROUNDS):
            contrib = edges.join(ranks, edges.u == ranks.node).select(
                F.col("v"), F.expr("r div d").alias("c")
            )
            new_r = contrib.groupBy(F.col("v").alias("node")).agg(
                (F.lit(150000) + F.expr("(85 * sum(c)) div 100"))
                .cast("long")
                .alias("r")
            )
            if i < _PR_ROUNDS - 1:
                ranks = new_r.join(deg, new_r.node == deg.u).select(
                    "node", "r", F.col("deg").alias("d")
                )
            else:
                ranks = new_r
        return ranks.select(F.col("node").alias("doc_id"), F.col("r").alias("rank"))
    finally:
        # NOTE: pairs/edges caches stay LRU-managed (module docstring) — the
        # returned frame is LAZY, so an eager unpersist here would silently
        # drop the cache before the caller ever executes the plan and the
        # block-join would re-run once per edge reference (measured ~2×
        # slower at sf0.1; x_dedup_cluster may unpersist only because it
        # materializes internally).
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)


@register(
    "x_minhash_accuracy",
    uses=("minhash_base",),
    # candidate pairs via per-band equi-joins + UNION (hash-joinable; the
    # OR form nested-loops — x_dedup_minhash_narrow oracle note), then
    # re-join the signatures to count agreeing components
    oracle=_DUCK_MINHASH
    + f""",
    cand0 AS ({_duck_band_union(NARROW_BANDS)}),
    cand AS (
      SELECT c.doc_a, c.doc_b,
             (CAST(a.mh0 = b.mh0 AS INT) + CAST(a.mh1 = b.mh1 AS INT)
              + CAST(a.mh2 = b.mh2 AS INT) + CAST(a.mh3 = b.mh3 AS INT))
               AS n_eq
      FROM cand0 c
      JOIN sig a ON a.doc_id = c.doc_a
      JOIN sig b ON b.doc_id = c.doc_b
    ),
    sets AS (SELECT doc_id, list_distinct(shingles) AS ss FROM sh)
    SELECT c.doc_a, c.doc_b,
           ROUND(c.n_eq / 4.0, 4) AS est,
           ROUND(len(list_intersect(sa.ss, sb.ss))
                 / CAST(len(list_distinct(list_concat(sa.ss, sb.ss)))
                        AS DOUBLE), 4) AS exact,
           ROUND(abs(c.n_eq / 4.0
                     - len(list_intersect(sa.ss, sb.ss))
                       / CAST(len(list_distinct(list_concat(sa.ss, sb.ss)))
                              AS DOUBLE)), 4) AS abs_err
    FROM cand c
    JOIN sets sa ON sa.doc_id = c.doc_a
    JOIN sets sb ON sb.doc_id = c.doc_b
    """,
)
def minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator accuracy (the x_ann_recall pattern for the dedup
    stack): for every LSH candidate pair, the signature-agreement Jaccard
    estimate (matching components / 4) against the EXACT shingle-set
    Jaccard, with the absolute error — the calibration table that decides
    whether a (bands, rows) config under- or over-merges before anyone
    deletes data with it.

    4 hashes quantize the estimate to quarters — deliberately the same
    verifiable width as x_dedup_minhash (production uses 128+; the math
    and the plan are width-independent).  Exact sets ride the same
    shingle construction the signatures hash, so est and exact measure
    the same universe.

    100 TB: candidates come from the banded equi-joins (never all
    pairs); the exact-Jaccard verification touches only candidate rows —
    O(corpus + candidates), the same bound as x_dedup_jaccard."""
    docs = load_table(spark, sf_dir, "documents")
    art = read_artifact("minhash_base", spark, sf_dir)
    if art is not None:
        # a 4-hash signature is a projection of the shared 8-hash one:
        # mh0..3 are the same md5 slices in both widths
        sig = art[0].select("doc_id", "mh0", "mh1", "mh2", "mh3")
    else:
        sig = _minhash_signature(docs, 4).cache()

    def band_pairs(k1: str, k2: str) -> DataFrame:
        a = sig.select(
            F.col("doc_id").alias("doc_a"),
            F.col(k1).alias("b1"),
            F.col(k2).alias("b2"),
        )
        b = sig.select(
            F.col("doc_id").alias("doc_b"),
            F.col(k1).alias("b1"),
            F.col(k2).alias("b2"),
        )
        return (
            a.join(b, ["b1", "b2"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )

    cand = band_pairs("mh0", "mh1").unionByName(band_pairs("mh2", "mh3")).distinct()
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(4)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(4)],
    )
    n_eq = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(4)
    )
    # cache: the shingle-set projection feeds BOTH join sides; uncached it
    # re-tokenizes+re-shingles the corpus twice (LRU-managed lifetime,
    # module docstring)
    if art is not None:
        sets = art[1]
    else:
        sets = docs.select(
            "doc_id", F.array_distinct(shingles_col(tokens_col())).alias("ss")
        ).cache()
    seta = sets.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ssa"))
    setb = sets.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("ssb"))
    inter = F.size(F.array_intersect(F.col("ssa"), F.col("ssb")))
    union = F.size(F.array_distinct(F.concat(F.col("ssa"), F.col("ssb"))))
    est_raw = n_eq / F.lit(4.0)
    exact_raw = inter / union.cast("double")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_eq", n_eq)
        .join(seta, "doc_a")
        .join(setb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("n_eq") / 4.0, 4).alias("est"),
            F.round(exact_raw, 4).alias("exact"),
            F.round(F.abs(est_raw - exact_raw), 4).alias("abs_err"),
        )
    )


def _canonical_from_pairs(
    spark: SparkSession, sf_dir: str, pairs: DataFrame
) -> DataFrame:
    """CC labels + fixed-point PageRank + per-cluster argmax over one
    shared pair table — the capstone tail shared by x_canonical_pick and
    x_canonical_pick_prefix (only the candidate family differs; a
    tie-break or n_members fix lands in both)."""
    from pyspark.sql.window import Window

    clusters = dedup_cluster(spark, sf_dir, pairs=pairs)
    ranks = pagerank(spark, sf_dir, pairs=pairs)
    joined = clusters.join(ranks, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("rank"), F.asc("doc_id")
    )
    return (
        joined.select(
            "cluster_id",
            F.col("doc_id").alias("canonical_id"),
            "rank",
            F.count(F.lit(1))
            .over(Window.partitionBy("cluster_id"))
            .alias("n_members"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


_CANONICAL_PREFIX_ORACLE = f"""
    WITH RECURSIVE pairs AS ({_DUCK_JACCARD_PAIRS}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach AS (
      SELECT u AS node, u AS lbl FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.v AS node, r.lbl FROM reach r JOIN edges e ON e.u = r.node
    ),
    labels AS (
      SELECT node, CAST(MIN(lbl) AS BIGINT) AS cluster_id
      FROM reach GROUP BY node
    ),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY u),
    r0 AS (SELECT u AS node, CAST({_PR_SCALE} AS BIGINT) AS r, deg AS d
           FROM deg),
    r1c AS ({_duck_pr_round('r0')}),
    r1 AS (SELECT r1c.node, r1c.r, deg.deg AS d
           FROM r1c JOIN deg ON deg.u = r1c.node),
    r2c AS ({_duck_pr_round('r1')})
    SELECT cluster_id, canonical_id, rank, n_members FROM (
      SELECT l.cluster_id, l.node AS canonical_id,
             CAST(p.r AS BIGINT) AS rank,
             row_number() OVER (PARTITION BY l.cluster_id
                                ORDER BY p.r DESC, l.node) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY l.cluster_id) AS BIGINT)
               AS n_members
      FROM labels l JOIN r2c p ON p.node = l.node
    ) WHERE rn = 1
"""


_CANONICAL_ORACLE = _CANONICAL_PREFIX_ORACLE.replace(
    f"pairs AS ({_DUCK_JACCARD_PAIRS})", _DUCK_WIDE_VERIFIED_PAIRS, 1
)


@register(
    "x_canonical_pick", oracle=_CANONICAL_ORACLE, uses=("scored_pairs",)
)
def canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-copy selection — the dedup stack's capstone composition:
    connected components label every near-dup cluster (x_dedup_cluster),
    fixed-point PageRank scores every member (x_pagerank), and each
    cluster keeps its highest-ranked member (ties → min doc_id) — "keep
    the most-linked copy", the policy real curation uses instead of
    lowest-id-wins.

    Round 7: the shared pair set is x_dedup_minhash_verified's wide-band
    verified family — the composition measured at 6.8 s over 500 k docs
    at sf10 on the default 16 GiB driver, where the prefix-block capstone
    (now x_canonical_pick_prefix) aborted with SparkOutOfMemoryError at
    16 AND 48 GiB.

    The candidate pairs are computed ONCE (eager localCheckpoint —
    materialized AND lineage-truncated) and shared by both components via
    their ``pairs`` parameter — the x_pair_table/x_token_table
    materialize-once pattern, which halves the capstone's cost vs each
    component deriving its own pair set.  Every piece stays independently
    oracle-checked, and the combined DuckDB replay (recursive closure +
    unrolled integer PageRank + one ranking window) hash-checks the
    end-to-end decision."""
    return _canonical_from_pairs(
        spark, sf_dir, _verified_pairs_checkpointed(spark, sf_dir)
    )


@register(
    "x_triangles",
    uses=("scored_pairs",),
    oracle=f"""
    WITH {_DUCK_WIDE_VERIFIED_PAIRS},
    tri AS (
      SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.doc_a = e1.doc_b
      JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    nodes AS (
      SELECT a AS doc_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM nodes GROUP BY doc_id
    """,
)
def triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node TRIANGLE COUNT over the near-dup graph — the graph
    statistic after components (x_dedup_cluster) and centrality
    (x_pagerank): triangle density separates tight clique-like duplicate
    clusters (templated boilerplate families) from chain-shaped false
    merges, which is what you check before trusting a cluster enough to
    keep only one member.

    The compact-forward algorithm: edges are already oriented low→high
    (doc_a < doc_b), so each triangle a<b<c is found EXACTLY once by
    joining e1=(a,b) with e2=(b,c) and closing with e3=(a,c) — two hash
    equi-joins, no candidate triple enumerated twice, no orientation
    dedup pass.  Per-node counts explode each triangle's 3 corners.

    100 TB: this is the standard distributed triangle shape — cost is
    O(Σ deg(v)²) pair candidates, bounded here because near-dup graphs
    are sparse; for skewed hubs the production refinement (degree-ordered
    orientation) keeps every node's out-degree ≤ √|E| with the same
    join plan.  Round 7: edges come from x_dedup_minhash_verified's
    wide-band verified pairs (the scale-safe default family)."""
    pairs = _verified_pairs_checkpointed(spark, sf_dir)
    e1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = pairs.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    nodes = (
        tri.select(F.col("a").alias("doc_id"))
        .unionAll(tri.select(F.col("b").alias("doc_id")))
        .unionAll(tri.select(F.col("c").alias("doc_id")))
    )
    return nodes.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


@register(
    "x_split_leakage",
    uses=("minhash_base",),
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id, text
        FROM documents WHERE doc_id % 5 = 0
    ),
    {duck_wide_verified_pairs("corpus")},
    edges AS (
      SELECT doc_a AS u, doc_b AS v, jaccard FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v, jaccard FROM pairs
    ),
    splits AS ({duck_splits_cte("corpus")})
    SELECT su.split, e.u AS doc_id,
           CAST(COUNT(*) AS BIGINT)  AS n_train_partners,
           ROUND(MAX(e.jaccard), 4)  AS worst_jaccard
    FROM edges e
    JOIN splits su ON su.doc_id = e.u
    JOIN splits sv ON sv.doc_id = e.v
    WHERE su.split <> 'train' AND sv.split = 'train'
    GROUP BY su.split, e.u
    """,
)
def split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→holdout LEAKAGE check — the eval-hygiene composition of the
    split assignment and the near-dup pair table: every val/test document
    that has a near-duplicate in the train split, with its partner count
    and worst (highest) Jaccard.  These are the docs whose eval loss is
    memorization, not generalization; curation drops them from the
    holdout before any benchmark number ships.

    The corpus unions in a deterministic re-keyed copy of every 5th doc
    (the x_dedup_exact synthetic-fixture convention): on the round-7
    verified pair family the fixture corpus has no natural cross-split
    near-dup at the sf0.01 gate, which would make the oracle vacuously
    empty — the injected exact duplicates land in a different split than
    their originals at the split rate (~4% of copies) and the detector
    must recover exactly those.

    Plan: verified pairs from the wide-band minhash family (never
    doc×doc; round-7 default), symmetrized, then two joins against the
    zero-shuffle split projection (the same md5 'spl:' rule as
    x_split_assign, applied to the widened corpus).  100 TB: cost is
    the pair table (already needed by the dedup stack — share it via
    x_pair_table) plus an O(pairs) join."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 5 == 0).select(
        _rekey_synthetic(F.col("doc_id")).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(copies)
    # the injected copies carry the SAME text under a re-keyed id, and a
    # signature/shingle set is a pure per-document function of the text —
    # so the widened corpus's artifacts derive from the shared base ones
    # by id arithmetic, no re-hashing (identical values by construction)
    art = read_artifact("minhash_base", spark, sf_dir)
    sig = sets = None
    if art is not None:
        sig, sets = (
            t.unionByName(
                t.filter(F.col("doc_id") % 5 == 0).withColumn(
                    "doc_id", _rekey_synthetic(F.col("doc_id"))
                )
            )
            for t in art
        )
    pairs = minhash_verified_pairs_df(corpus, sig=sig, sets=sets)
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v"), "jaccard"
    ).unionAll(
        pairs.select(
            F.col("doc_b").alias("u"), F.col("doc_a").alias("v"), "jaccard"
        )
    )
    # the SHARED split rule (packing.split_col) — a threshold/seed change
    # in x_split_assign automatically propagates to this audit
    splits = corpus.select("doc_id", split_col())
    su = splits.select(F.col("doc_id").alias("u"), F.col("split"))
    sv = splits.select(
        F.col("doc_id").alias("v"), F.col("split").alias("split_v")
    )
    return (
        edges.join(su, "u")
        .join(sv, "v")
        .filter((F.col("split") != "train") & (F.col("split_v") == "train"))
        .groupBy("split", F.col("u").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_train_partners"),
            F.round(F.max("jaccard"), 4).alias("worst_jaccard"),
        )
    )


@register(
    "x_dedup_incremental",
    uses=("minhash_base",),
    # per-band equi-joins + UNION (hash-joinable; the OR form
    # nested-loops — x_dedup_minhash_narrow oracle note)
    oracle=_DUCK_MINHASH_WIDE
    + "\n    "
    + _duck_band_union(
        WIDE_BANDS,
        lcol="new_doc",
        rcol="corpus_doc",
        filt="a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7",
    ),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup check — the daily-ingest production shape:
    a small new batch (here the deterministic slice doc_id % 10 = 7)
    is deduped AGAINST the existing corpus, not against itself.  The
    asymmetry is the point: signatures are computed once for the delta
    (small) and read for the corpus (at scale: from the persisted
    signature table the first full dedup already built — the
    x_pair_table materialization), and the band join is delta×band-mates
    instead of corpus×corpus.

    100 TB: per-band equi-joins with the DELTA side broadcast — cost is
    O(delta + collisions), independent of corpus size, which is what
    makes daily dedup of a PB-scale corpus feasible at all.

    Round 7: probes the WIDE 8-hash signature table (2 bands of r=4), so
    corpus-side band collisions carry the wide family's ~linear
    background rate instead of inheriting the narrow-band quadratic one
    (round-6 VERDICT weak item)."""
    docs = load_table(spark, sf_dir, "documents")
    art = read_artifact("minhash_base", spark, sf_dir)
    sig = art[0] if art is not None else _minhash_signature(docs, 8).cache()
    is_new = F.col("doc_id") % 10 == 7
    new_sig = sig.filter(is_new)
    corpus_sig = sig.filter(~is_new)

    def band(cols: list[str]) -> DataFrame:
        n = new_sig.select(
            F.col("doc_id").alias("new_doc"),
            *[F.col(c).alias(f"b{i}") for i, c in enumerate(cols)],
        )
        c = corpus_sig.select(
            F.col("doc_id").alias("corpus_doc"),
            *[F.col(k).alias(f"b{i}") for i, k in enumerate(cols)],
        )
        return (
            F.broadcast(n)
            .join(c, [f"b{i}" for i in range(len(cols))])
            .select("new_doc", "corpus_doc")
        )

    return (
        band(["mh0", "mh1", "mh2", "mh3"])
        .unionByName(band(["mh4", "mh5", "mh6", "mh7"]))
        .distinct()
    )


@register(
    "x_dedup_minhash_verified",
    uses=("scored_pairs",),
    oracle=f"""
    WITH {_DUCK_WIDE_VERIFIED_PAIRS}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-CORRECT end-to-end near-dup pair pipeline, registered:
    wide-band minhash candidates (x_dedup_minhash_wide — candidate count
    ~linear in the corpus, round-6 sf10 finding) verified by EXACT
    shingle-set Jaccard at the stack's {JACCARD_THRESHOLD} threshold.

    This is the composition the sf10 run proved out: feeding these pairs
    to dedup_cluster(pairs=...) clusters 500 k docs in 2.4 s where the
    prefix-block candidate family took 3,143 s — the registered artifact
    of "swap head_tok for a minhash band".  Exact verification touches
    only candidate rows: O(corpus + candidates) with candidates ~ true
    near-dups.

    100 TB: two equi-joins on 4-hash band tuples + a candidate-sized
    shingle-set join; no stage is quadratic in the corpus."""
    sc = read_artifact("scored_pairs", spark, sf_dir)
    if sc is not None:
        return sc.filter(F.col("jraw") >= JACCARD_THRESHOLD).select(
            "doc_a", "doc_b", F.round("jraw", 4).alias("jaccard")
        )
    return minhash_verified_pairs_df(load_table(spark, sf_dir, "documents"))


def scored_candidates_df(
    docs: DataFrame,
    cache_sets: bool = False,
    sig: DataFrame | None = None,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Wide-band candidates with their UNTHRESHOLDED exact shingle-set
    Jaccard as ``jraw`` — the shared data-heavy prefix of the verified
    family AND the threshold sweep (which needs sub-threshold scores).
    Every consumer applies its own filter/round to the materialized
    column, so sharing cannot move a boundary case (filtering raw then
    rounding equals the historical inline expressions exactly).

    ``sig``/``sets`` accept precomputed per-document artifacts
    (the shared minhash_base, or a derivation for a derived corpus); when
    given they replace the in-plan computation — identical results, both
    are pure per-document functions of the text."""
    cand = minhash_wide_candidates_df(docs, sig=sig)
    # shingle SETS for exact verification — same construction the
    # signatures hash, so candidates and verification share a universe
    if sets is None:
        sets = docs.select(
            "doc_id",
            F.array_distinct(shingles_col(tokens_col())).alias("ss"),
        )
        if cache_sets:
            sets = sets.cache()
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("sa"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size(F.array_union("sa", "sb"))
    jac = inter / union.cast("double")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jraw"))
    )


def minhash_verified_pairs_df(
    docs: DataFrame,
    sig: DataFrame | None = None,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Wide-band candidates + exact shingle-set Jaccard verification over
    ANY docs DataFrame with (doc_id, text) — the reusable core of
    x_dedup_minhash_verified (the round-7 default pair source for the
    whole dedup-graph stack).  ``sig``/``sets`` pass through to
    scored_candidates_df (shared per-document artifacts)."""
    return (
        scored_candidates_df(docs, cache_sets=True, sig=sig, sets=sets)
        .filter(F.col("jraw") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round("jraw", 4).alias("jaccard"))
    )


CONTAINMENT_THRESHOLD = 0.7  # |A∩B|/|smaller side| for subset-style dup


@register(
    "x_dedup_containment",
    uses=("minhash_base",),
    oracle=f"""
    WITH {_DUCK_WIDE_CAND_SETS},
    cont AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(sa.ss, sb.ss))
               / CAST(len(sa.ss) AS DOUBLE) AS ca,
             len(list_intersect(sa.ss, sb.ss))
               / CAST(len(sb.ss) AS DOUBLE) AS cb
      FROM candw c
      JOIN setsw sa ON sa.doc_id = c.doc_a
      JOIN setsw sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b,
           ROUND(ca, 4) AS containment_a,
           ROUND(cb, 4) AS containment_b,
           CAST(CASE WHEN ca >= cb THEN doc_a ELSE doc_b END AS BIGINT)
             AS contained_doc
    FROM cont
    WHERE greatest(ca, cb) >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT near-dup (asymmetric Jaccard): C(A→B) = |A∩B|/|A| over
    shingle sets.  Jaccard misses the inclusion case — a short document
    pasted verbatim inside a much longer one scores |A|/|B| ≈ 0 on the
    union but 1.0 on containment — and corpus curation (RefinedWeb-style
    pipelines) removes the CONTAINED side, not an arbitrary pair member.
    Emits, per candidate pair, both directed containments and the doc the
    pipeline would drop (the more-contained side; ties keep doc_b by the
    deterministic >= rule).

    Plan: identical shape to the wide-band verified pair family (the
    round-7 scale default) — bucketed band equi-joins produce ~linear
    candidates, shingle sets join back on the candidate ids only, and the
    score is an O(|set|) array intersect per candidate.  The ONLY change
    vs x_dedup_minhash_verified is the scoring expression, so the sf10
    measurements of that family (seconds, not hours) carry over.  Caveat
    honestly stated: MinHash bands sample the UNION, so a tiny-doc⊂huge-
    doc pair can miss candidacy; at 100 TB a containment-first pipeline
    hashes bands over the SMALLER doc's shingles (prefix bands) — the
    detector here scores whatever candidate family feeds it."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sig, sets = read_artifact("minhash_base", spark, sf_dir) or (None, None)
    cand = minhash_wide_candidates_df(docs, sig=sig)
    if sets is None:
        sets = docs.select(
            "doc_id",
            F.array_distinct(shingles_col(tokens_col())).alias("ss"),
        )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("sa"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    ca = inter / F.size("sa")
    cb = inter / F.size("sb")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.greatest(ca, cb) >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.round(ca, 4).alias("containment_a"),
            F.round(cb, 4).alias("containment_b"),
            F.when(ca >= cb, F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_doc"),
        )
    )


@register(
    "x_dedup_cluster_prefix",
    foil=True,
    oracle=f"""
    WITH RECURSIVE pairs AS ({_DUCK_JACCARD_PAIRS}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach AS (
      SELECT u AS node, u AS lbl FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.v AS node, r.lbl FROM reach r JOIN edges e ON e.u = r.node
    )
    SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dedup_cluster_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clustering capstone on the LEGACY prefix-block candidate
    family (x_dedup_jaccard's (lang, first-token) blocking) — the
    fixture-width calibration twin of x_dedup_cluster, which since
    round 7 defaults to the wide-band verified pairs.

    Kept registered because the round-6 sized runs made this exact
    composition the measured counter-example (3,143 s at sf10 vs 2.4 s
    for the wide-band family on identical cluster semantics): the
    blocking-strategy contrast is an artifact worth re-running whenever
    the corpus statistics change.  Same CC loop (pointer jumping, width
    sized to edges) — only the candidate family differs."""
    pairs = dedup_jaccard_prefix(spark, sf_dir).select("doc_a", "doc_b").cache()
    try:
        return dedup_cluster(spark, sf_dir, pairs=pairs)
    finally:
        pairs.unpersist()


@register(
    "x_canonical_pick_prefix", oracle=_CANONICAL_PREFIX_ORACLE, foil=True
)
def canonical_pick_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x_canonical_pick's capstone (CC labels + fixed-point PageRank +
    per-cluster argmax) on the LEGACY prefix-block candidate family —
    the fixture-width calibration twin of x_canonical_pick, which since
    round 7 defaults to the wide-band verified pairs.

    Kept registered as the measured counter-example: at sf10 this
    composition aborted with SparkOutOfMemoryError at BOTH 16 GiB and
    48 GiB driver (hash-agg OOM inside the ~2 M-candidate pair
    checkpoint) while the wide-band default runs in 6.8 s — memory
    cannot buy back a quadratic candidate set."""
    pairs = (
        dedup_jaccard_prefix(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    return _canonical_from_pairs(spark, sf_dir, pairs)


SUBSTRING_WINDOW = 16  # tokens per exact-substring window
SUBSTRING_STRIDE = 8  # window start spacing (50% overlap)
SUBSTRING_BOILERPLATE_CAP = 64  # windows in more docs than this are boilerplate

# t → s → w: the distinct (doc_id, window-hash) projection — shared by
# x_substring_dup (pair grain) and x_boilerplate_windows (hash grain).
_DUCK_SUBSTRING_W = f"""t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tok FROM documents
    ),
    s AS (
      SELECT doc_id,
             unnest(generate_series(1, greatest(len(tok) - {SUBSTRING_WINDOW - 1}, 1),
                                    {SUBSTRING_STRIDE})) AS st,
             tok
      FROM t
    ),
    w AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             md5(array_to_string(tok[st:st + {SUBSTRING_WINDOW - 1}], ' ')) AS h
      FROM s
    )"""


def _substring_windows(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, h): every 16-token window at stride 8, hashed."""
    tok = tokens_col()
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size(tok) - (SUBSTRING_WINDOW - 1), F.lit(1)),
        F.lit(SUBSTRING_STRIDE),
    )
    d = docs.select("doc_id", tok.alias("t"), F.explode(starts).alias("st"))
    return d.select(
        "doc_id",
        F.md5(
            F.array_join(F.slice("t", F.col("st"), SUBSTRING_WINDOW), " ")
        ).alias("h"),
    ).distinct()


@register(
    "x_substring_dup",
    oracle=f"""
    WITH {_DUCK_SUBSTRING_W},
    c AS (
      SELECT h, CAST(COUNT(*) AS BIGINT) AS nd FROM w GROUP BY h
      HAVING COUNT(*) BETWEEN 2 AND {SUBSTRING_BOILERPLATE_CAP}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_windows
    FROM w a JOIN c USING (h) JOIN w b USING (h)
    WHERE a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
)
def substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING duplication across documents (the token-window
    pass of "Deduplicating Training Data Makes Language Models Better":
    near-dup Jaccard misses a verbatim paragraph pasted into an
    otherwise-different page; this catches exactly that).  Every
    16-token window at stride 8 is hashed; documents sharing a window
    hash are reported with their shared-window count — the spans a
    curation pass would then excise or attribute.

    Plan: one explode (corpus tokens / stride windows, ~n_tokens/8
    rows), one hash groupBy for the per-window doc count, and a
    within-hash self-join restricted to hashes held by 2..64 documents.
    The upper cap is the BOILERPLATE GUARD and the scale load-bearer: a
    navigation header shared by 10^7 pages would otherwise contribute
    10^14 pairs from one hash — at 100 TB boilerplate belongs to a
    frequency detector (the rejected hashes ARE that report), not a
    pair list.  With the cap, pairs per hash are <= 64^2/2 and total
    output is bounded by true cross-doc duplication."""
    docs = load_table(spark, sf_dir, "documents")
    # cache: the distinct (doc, window-hash) projection feeds the count
    # AND both self-join sides (LRU-managed; module docstring)
    w = _substring_windows(docs).cache()
    c = (
        w.groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(
            (F.col("nd") >= 2) & (F.col("nd") <= SUBSTRING_BOILERPLATE_CAP)
        )
    )
    a = w.join(c.select("h"), "h").select("h", F.col("doc_id").alias("doc_a"))
    b = w.select("h", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
    )


@register(
    "x_boilerplate_windows",
    oracle=f"""
    WITH {_DUCK_SUBSTRING_W}
    SELECT h AS window_md5,
           CAST(COUNT(*) AS BIGINT)    AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM w
    GROUP BY h
    HAVING COUNT(*) >= 2
    """,
)
def boilerplate_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-window FREQUENCY report — the hash-grain complement of
    x_substring_dup's pair view and the scale-correct home for
    boilerplate: a navigation header shared by 10^7 pages is ONE row
    here (hash, count, first/last doc) where the pair view would owe
    10^14 rows.  x_substring_dup's BOILERPLATE_CAP rejects those hashes
    from pairing; THIS query is the report those rejections point to —
    the excision list a curation pass applies per-document (drop any
    window whose hash is frequent) without ever joining doc×doc.

    Plan: one explode (corpus tokens / stride windows), one distinct,
    one hash groupBy — linear in corpus tokens, no self-join at any
    frequency.  min/max doc_id bound each window's doc-id span for
    attribution triage (a span ≈ corpus width means template boilerplate;
    a tight span means local copy-paste)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        _substring_windows(docs)
        .groupBy(F.col("h").alias("window_md5"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "x_ngram_novelty",
    oracle=f"""
    WITH sh AS MATERIALIZED ({_DUCK_SHINGLES}),
    ds AS MATERIALIZED (
      SELECT DISTINCT doc_id, s.sh AS g
      FROM sh, unnest(shingles) AS s(sh)
    ),
    first_seen AS (
      SELECT g, MIN(doc_id) AS first_doc FROM ds GROUP BY g
    )
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS novelty
    FROM ds d JOIN first_seen f ON f.g = d.g
    GROUP BY d.doc_id
    """,
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document N-GRAM NOVELTY — the corpus-diversity signal a
    data-mixing pass ranks sources by: the fraction of a document's
    distinct 3-word shingles whose global FIRST OCCURRENCE (min doc_id
    over all docs containing the shingle, i.e. ingestion order) is this
    document.  Repetitive scrape tails score near 0; fresh content near
    1.  Sum(n_novel) over docs = |global distinct shingles| — a useful
    audit identity.

    Plan: distinct (doc, shingle) explode, one shuffle for the global
    min-doc per shingle, join back, per-doc aggregate — all linear in
    corpus shingles, the same bound as the minhash signature pass.
    100 TB: the first-seen table is |distinct shingles|; at trillions
    of shingles, partition by shingle hash exactly as written (the
    groupBy key IS the shingle) and nothing else changes."""
    docs = load_table(spark, sf_dir, "documents")
    ds = docs.select(
        "doc_id", F.explode(F.array_distinct(shingles_col(tokens_col()))).alias("g")
    ).distinct()
    # cache: feeds the first-seen aggregate AND the join back
    ds = ds.cache()
    first_seen = ds.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        ds.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(novel).alias("n_novel"),
            F.round(F.sum(novel) / F.count(F.lit(1)).cast("double"), 4).alias(
                "novelty"
            ),
        )
    )


@register(
    "x_dup_inflation",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text, lang, source FROM documents
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id, text, lang, source
        FROM documents WHERE doc_id % 17 = 0
    ),
    sized AS (
      SELECT doc_id, lang, source, text,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok
      FROM corpus
    ),
    keepers AS (
      SELECT MIN(doc_id) AS doc_id FROM sized GROUP BY text
    )
    SELECT s.lang, s.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_raw,
           CAST(COUNT(k.doc_id) AS BIGINT) AS n_docs_unique,
           CAST(SUM(s.n_tok) AS BIGINT) AS tok_raw,
           CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN s.n_tok ELSE 0 END)
                AS BIGINT) AS tok_unique,
           ROUND(SUM(s.n_tok)
                 / CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN s.n_tok
                            ELSE 0 END) AS DOUBLE), 4) AS inflation
    FROM sized s LEFT JOIN keepers k ON k.doc_id = s.doc_id
    GROUP BY s.lang, s.source
    """,
)
def dup_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUPLICATION-INFLATION report — the number a curation review asks
    for first: per (lang, source), raw vs exact-deduped doc and token
    counts and the token inflation factor (raw/unique).  A source with
    inflation 3.0 is two-thirds verbatim copies; its mixing weight (and
    its crawl budget) should be set against UNIQUE tokens, not raw.

    The corpus unions in the deterministic re-keyed copy slice
    (doc_id % 17, the x_dedup_exact convention) so the report is
    non-vacuous at every SF.  Plan: one hash agg on text for keepers
    (min doc_id), a left join back, one grouped aggregate — linear,
    two shuffles, the same shape as x_dedup_exact."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    copies = docs.filter(F.col("doc_id") % 17 == 0).select(
        _rekey_synthetic(F.col("doc_id")).alias("doc_id"),
        "text",
        "lang",
        "source",
    )
    sized = docs.unionByName(copies).withColumn(
        "n_tok", F.size(F.split(F.lower("text"), " ")).cast("bigint")
    )
    # cache: feeds the keeper aggregate AND the join back
    sized = sized.cache()
    keepers = sized.groupBy("text").agg(F.min("doc_id").alias("kid"))
    is_keeper = F.col("kid").isNotNull()
    joined = sized.join(
        keepers.select(F.col("kid")), sized.doc_id == F.col("kid"), "left"
    )
    uniq_tok = F.sum(F.when(is_keeper, F.col("n_tok")).otherwise(0))
    return joined.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs_raw"),
        F.count("kid").alias("n_docs_unique"),
        F.sum("n_tok").alias("tok_raw"),
        uniq_tok.alias("tok_unique"),
        F.round(F.sum("n_tok") / uniq_tok.cast("double"), 4).alias(
            "inflation"
        ),
    )


@register(
    "x_component_stats",
    uses=("scored_pairs",),
    oracle=f"""
    WITH RECURSIVE {_DUCK_WIDE_VERIFIED_PAIRS},
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach AS (
      SELECT u AS node, u AS lbl FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.v AS node, r.lbl FROM reach r JOIN edges e ON e.u = r.node
    ),
    labels AS (
      SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
    ),
    sizes AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM labels GROUP BY cluster_id
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs
    FROM sizes
    GROUP BY cluster_size
    """,
)
def component_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER-SIZE HISTOGRAM — the dedup-graph health check
    read before trusting canonical-pick deletions: many small clusters
    is normal near-duplication; a few giant components mean the
    candidate threshold under-separates (or boilerplate leaked past the
    band filter) and a merge audit is due BEFORE data is dropped.
    Composes x_dedup_cluster's labels (over the round-7 verified pair
    family) with two tiny aggregates; output is |distinct sizes| rows.

    100 TB: cost is the clustering itself (band equi-joins +
    O(log diameter) label loop); the histogram adds two
    partial-aggregated shuffles over the label table."""
    labels = dedup_cluster(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )


BFS_MAX_HOPS = 4  # bounded radius: guarantees SQL recursion terminates
                  # on cyclic graphs in BOTH engines


@register(
    "x_graph_bfs",
    uses=("scored_pairs",),
    oracle=f"""
    WITH RECURSIVE {duck_wide_verified_pairs()},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    roots AS (
      SELECT DISTINCT doc_a AS node FROM pairs
      WHERE doc_a NOT IN (SELECT doc_b FROM pairs)
    ),
    bfs AS (
      SELECT node, 0 AS hop FROM roots
      UNION ALL
      SELECT e.dst AS node, b.hop + 1 AS hop
      FROM bfs b JOIN edges e ON e.src = b.node
      WHERE b.hop < {BFS_MAX_HOPS}
    ),
    dist AS (
      SELECT node, MIN(hop) AS hop FROM bfs GROUP BY node
    )
    SELECT CAST(hop AS INTEGER) AS hop,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(node) AS BIGINT) AS sum_doc_id
    FROM dist GROUP BY hop ORDER BY hop
    """,
)
def graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-radius multi-source BFS over the near-dup pair graph —
    hop distance from each document to its nearest LOCAL-MINIMUM
    representative (a node with no smaller-id neighbor; since pairs are
    emitted doc_a < doc_b, that is exactly "never appears as doc_b", and
    every component's global minimum qualifies, so every component has
    ≥1 root).  The hop histogram is the transitive-duplication depth
    profile: hop 1 = direct near-dups of a representative, hop ≥ 2 =
    chained near-duplication that pairwise Jaccard alone would miss —
    the signal for whether single-link clustering (x_dedup_cluster) is
    collapsing chains or just mirroring the pair list.

    Expressed as a native WITH RECURSIVE (Spark 4) over the round-7
    default pair family (wide-band minhash candidates + exact-Jaccard
    verify — candidates ~linear in corpus size, round-6 measurement).
    The {BFS_MAX_HOPS}-hop radius bound is what makes SQL recursion
    terminate on CYCLIC graphs (q_recursive_cte's forest needed no bound;
    a near-dup graph has triangles), in both engines identically: nodes
    farther than the bound from every root are reported as unreached.

    Scale shape: each recursion level is one hash equi-join of the
    FRONTIER against the edge table (candidate-sized, never corpus²);
    path multiplicity is bounded by the radius × max degree, then
    collapsed by the MIN(hop) aggregate.  The pair pipeline itself is
    localCheckpoint'ed once (the x_pair_table pattern), so the recursion
    does not re-run signatures per level."""
    from data_pipeline_cursor_spark.operators.subqueries import (
        run_with_recursion_row_limit,
    )

    pairs = _verified_pairs_checkpointed(spark, sf_dir)
    pairs.createOrReplaceTempView("bfs_pairs")
    # Cumulative-row budget for the bounded traversal, sized to THIS
    # graph from its true worst case: the recursion accumulates WALKS
    # (MIN(hop) dedups only after it), and walks of length h are bounded
    # by 2|pairs| · maxdeg^(h-1) — multiplicative in degree, so a flat
    # "slack × pairs" budget undercounts on dense cliques (round-9
    # review: a ~60-doc clique walks ≥ deg⁴ ≈ 1.3e7 from one root, which
    # a 200×pairs budget would abort; the pre-round-8 code only survived
    # that by leaking a 200M session-wide limit).  maxdeg costs one
    # candidate-grain agg over the checkpointed pairs; the budget is
    # capped at int32 (the conf's domain) — past that the recursion IS
    # runaway territory for a single driver, which is what the backstop
    # is for.  Scoped via run_with_recursion_row_limit so the session's
    # 1e6 default survives (round-8 ADVICE item 1).
    # ONE aggregation pass (round-9 ADVICE item 5): the doubled union has
    # exactly 2·|pairs| rows, so SUM(d) recovers the pair count and
    # MAX(d) the degree bound from the same per-node count table — one
    # collect, one job, instead of a separate count() round trip.
    deg_stats = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionAll(pairs.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(F.max("d").alias("maxdeg"), F.sum("d").alias("twice_pairs"))
        .collect()[0]
    )
    maxdeg = deg_stats["maxdeg"] or 1
    n_pairs = int(deg_stats["twice_pairs"] or 0) // 2
    walks = 2 * n_pairs  # roots ≤ nodes ≤ 2|pairs|
    per_len = 2 * n_pairs  # walks of length 1 ≤ directed edges
    for _ in range(BFS_MAX_HOPS):
        walks += per_len
        per_len *= maxdeg  # walks of length h+1 ≤ walks_h · maxdeg
    row_budget = max(1_000_000, min(walks, 2_000_000_000))
    return run_with_recursion_row_limit(
        spark,
        row_budget,
        lambda: spark.sql(
            f"""
        WITH RECURSIVE edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM bfs_pairs
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM bfs_pairs
        ),
        roots AS (
          SELECT DISTINCT doc_a AS node FROM bfs_pairs
          WHERE doc_a NOT IN (SELECT doc_b FROM bfs_pairs)
        ),
        bfs AS (
          SELECT node, 0 AS hop FROM roots
          UNION ALL
          SELECT e.dst AS node, b.hop + 1 AS hop
          FROM bfs b JOIN edges e ON e.src = b.node
          WHERE b.hop < {BFS_MAX_HOPS}
        ),
        dist AS (
          SELECT node, MIN(hop) AS hop FROM bfs GROUP BY node
        )
        SELECT CAST(hop AS INT) AS hop,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(node) AS BIGINT) AS sum_doc_id
        FROM dist GROUP BY hop ORDER BY hop
        """
        ),
    )


WINNOW_WINDOW = 8   # shingle positions per winnowing window
WINNOW_MAX_DF = 50  # fingerprints in more docs are boilerplate — dropped


@register(
    "x_winnowing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(tk) - 2, 1)),
               i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])
             ) AS shingles
      FROM toks
    ),
    pos AS (
      SELECT doc_id, i AS pos,
             ('0x' || substr(md5('wn:' || shingles[i]), 1, 15))::BIGINT AS h
      FROM sh, unnest(generate_series(1, len(shingles))) AS t(i)
    ),
    win AS (
      SELECT doc_id, pos,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW
                          AND {WINNOW_WINDOW - 1} FOLLOWING) AS fp,
             COUNT(*) OVER (PARTITION BY doc_id) AS n
      FROM pos
    ),
    fps AS (
      SELECT DISTINCT doc_id, fp FROM win
      WHERE pos <= greatest(n - {WINNOW_WINDOW} + 1, 1)
    ),
    rare AS (
      SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= {WINNOW_MAX_DF}
    ),
    good AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp)),
    sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp
      FROM good GROUP BY doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM good a JOIN good b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b, p.n_shared,
           ROUND(p.n_shared / CAST(least(sa.n_fp, sb.n_fp) AS DOUBLE), 4)
             AS overlap
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE p.n_shared >= 2
    """,
)
def winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD 2003 —
    the MOSS algorithm): per document, hash every 3-word shingle, slide a
    {WINNOW_WINDOW}-shingle window, keep the window MINIMUM — a LOCAL
    fingerprint set whose density is ~2/(w+1) of positions, guaranteeing
    any shared run of ≥ w+2 shingles produces at least one shared
    fingerprint.  This is the dedup family the global-minhash stack can't
    cover: MinHash estimates WHOLE-document resemblance, winnowing
    detects PARTIAL overlap (a paragraph pasted between two otherwise
    different documents), positionally.

    Pair report: docs sharing ≥2 rare fingerprints, with the overlap
    coefficient n_shared/min(|fps|) — fingerprints appearing in more
    than {WINNOW_MAX_DF} docs are boilerplate and dropped BEFORE the
    pair join (same guard as x_contamination's common-gram drop), which
    is also what bounds the inverted-index join: each surviving
    fingerprint fans out to ≤{WINNOW_MAX_DF}² pairs.

    Plan shape: posexplode → one md5 per shingle (the x_fingerprint
    idiom) → per-doc window min (ONE exchange on doc_id; the frame is
    ROWS-bounded so state is {WINNOW_WINDOW} values) → distinct → df
    filter → fingerprint equi-join (shuffle on uniform 60-bit keys, no
    skew by construction after the df cap) → pair-grain count.  Cost is
    linear in corpus + candidate pairs; nothing is ever doc×doc."""
    from pyspark.sql.window import Window

    from data_pipeline_cursor_spark.sources.tables import fan_out_small_scan

    # ~300 shingles × one md5 each per doc, all inside the scan stage,
    # which the single-row-group fixture caps at one task — fan the
    # 5k-row scan out so the hash leg uses every core (no-op on
    # production-layout tables, see the helper)
    docs = fan_out_small_scan(
        load_table(spark, sf_dir, "documents"), sf_dir, "documents"
    )
    pos = docs.select(
        "doc_id",
        F.posexplode(shingles_col(tokens_col())).alias("pos0", "s"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        phash(F.col("s"), "wn").alias("h"),
    )
    wdoc = Window.partitionBy("doc_id")
    wmin = wdoc.orderBy("pos").rowsBetween(0, WINNOW_WINDOW - 1)
    win = pos.select(
        "doc_id",
        "pos",
        F.min("h").over(wmin).alias("fp"),
        F.count(F.lit(1)).over(wdoc).alias("n"),
    )
    fps = (
        win.filter(
            F.col("pos")
            <= F.greatest(F.col("n") - WINNOW_WINDOW + 1, F.lit(1))
        )
        .select("doc_id", "fp")
        .distinct()
    )
    rare = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= WINNOW_MAX_DF
    )
    # eager localCheckpoint (the x_knn_graph / pair-table idiom): `good`
    # feeds FOUR consumers (sizes, both pair legs, and through them the
    # final joins) and AQE does not reuse the window+distinct subtree —
    # the executed plan re-ran the explode→md5→window pipeline 4×
    # (Scan=8, Window=24 in plans/r13/x_winnowing_before2.txt).  The
    # checkpointed table is the PRUNED fingerprint set (~30 rows/doc),
    # tiny at any scale, and the blocks die with the DataFrame.
    good = fps.join(rare.select("fp"), "fp").localCheckpoint(eager=True)
    sizes = good.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    a = good.select(F.col("doc_id").alias("doc_a"), "fp")
    b = good.select(F.col("doc_id").alias("doc_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("nfa"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("nfb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / F.least("nfa", "nfb").cast("double"),
                4,
            ).alias("overlap"),
        )
    )


SWEEP_THRESHOLDS = [0.5, 0.6, 0.7, 0.8, 0.9]


@register(
    "x_dedup_threshold_sweep",
    uses=("scored_pairs",),
    oracle=f"""
    WITH {_DUCK_WIDE_CAND_SETS},
    scored AS (
      SELECT c.doc_a, c.doc_b,
             ROUND(len(list_intersect(sa.ss, sb.ss))
                   / CAST(len(list_distinct(list_concat(sa.ss, sb.ss)))
                          AS DOUBLE), 4) AS jaccard
      FROM candw c
      JOIN setsw sa ON sa.doc_id = c.doc_a
      JOIN setsw sb ON sb.doc_id = c.doc_b
    )
    SELECT t.threshold,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT s.doc_b) AS BIGINT) AS n_docs_dropped
    FROM scored s
    JOIN unnest({SWEEP_THRESHOLDS}::DOUBLE[]) AS t(threshold)
      ON s.jaccard >= t.threshold
    GROUP BY t.threshold
    ORDER BY t.threshold
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup THRESHOLD SWEEP — the decision table read before fixing
    JACCARD_THRESHOLD (currently {JACCARD_THRESHOLD}): for each candidate
    threshold, how many verified pairs survive and how many documents the
    greedy larger-id rule (curation stage 3) would drop.  One extra
    aggregate over the pipeline the stack already runs; choosing a
    threshold from measured pair/drop curves instead of folklore is the
    same calibration discipline as x_minhash_accuracy.

    Honest operating range: candidates come from the wide bands (r=4),
    whose collision probability at jaccard j is ~1-(1-j^4)^2 — recall is
    high near the {JACCARD_THRESHOLD}+ regime the bands are tuned for
    and decays toward 0.5, so LOW-threshold rows count band-reachable
    pairs, not all pairs (the sweep informs the threshold GIVEN the
    candidate family; re-tuning bands is x_minhash_accuracy's job).

    Plan shape: candidate generation + exact verify exactly as
    x_dedup_minhash_verified (band equi-joins, candidate-sized verify);
    the sweep is candidates × |thresholds| rows through one hash agg —
    count(distinct doc_b) expands to (threshold, doc_b) grain first,
    still candidate-bounded."""
    scored_src = read_artifact("scored_pairs", spark, sf_dir)
    if scored_src is None:
        scored_src = scored_candidates_df(
            load_table(spark, sf_dir, "documents")
        )
    scored = scored_src.select(
        "doc_a", "doc_b", F.round("jraw", 4).alias("jaccard")
    )
    thresholds = F.explode(
        F.array(*[F.lit(t) for t in SWEEP_THRESHOLDS])
    ).alias("threshold")
    return (
        scored.select("doc_b", "jaccard", thresholds)
        .filter(F.col("jaccard") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("doc_b").alias("n_docs_dropped"),
        )
        .orderBy("threshold")
    )


@register(
    "x_cross_source_dup",
    uses=("scored_pairs",),
    oracle=f"""
    WITH {_DUCK_WIDE_VERIFIED_PAIRS},
    tagged AS (
      SELECT least(da.source, db.source) AS source_lo,
             greatest(da.source, db.source) AS source_hi,
             p.doc_b
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b
    )
    SELECT source_lo, source_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_dropped
    FROM tagged
    GROUP BY source_lo, source_hi
    """,
)
def cross_source_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE DUPLICATION MATRIX: verified near-dup pairs rolled up
    by the (unordered) source pair of their endpoints — the provenance
    view of the dedup graph.  Diagonal rows (source_lo = source_hi) are
    within-crawl duplication; OFF-diagonal rows are the signal that two
    acquisition channels ship the same content — the number that decides
    which source to drop wholesale before paying per-doc dedup, and the
    verified-pair complement of x_kmv_jaccard's sketch-level resemblance
    estimate (sketch says "suspiciously similar sources", this says
    exactly how many verified pairs and droppable docs that means).

    Plan shape: the pair pipeline as usual (band equi-joins +
    candidate-sized verify, localCheckpoint'ed); then two broadcastable
    doc_id→source joins and one |sources|²-grain aggregate.  n_dropped
    counts DISTINCT larger-id docs per source pair (the greedy rule's
    actual deletions attributable to that channel pair)."""
    pairs = _verified_pairs_checkpointed(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.least("sa", "sb").alias("source_lo"),
            F.greatest("sa", "sb").alias("source_hi"),
            "doc_b",
        )
        .groupBy("source_lo", "source_hi")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("doc_b").alias("n_dropped"),
        )
    )


LINE_SEG_TOKENS = 8  # tokens per segment (newline stand-in; fixture has none)
LINE_DEDUP_MIN_DOCS = 2  # segment present in >= this many docs is removed


@register(
    "x_line_dedup",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tok FROM documents
    ),
    seg AS (
      SELECT doc_id, i AS pos,
             array_to_string(
               tok[(i*{LINE_SEG_TOKENS}+1):(i*{LINE_SEG_TOKENS}+{LINE_SEG_TOKENS})],
               ' ') AS seg
      FROM t, unnest(generate_series(
             0, CAST(ceil(len(tok)/{LINE_SEG_TOKENS}.0) AS INT) - 1)) AS g(i)
    ),
    freq AS (
      SELECT md5(seg) AS h FROM seg
      GROUP BY md5(seg)
      HAVING COUNT(DISTINCT doc_id) >= {LINE_DEDUP_MIN_DOCS}
    ),
    kept AS (
      SELECT doc_id, pos, seg FROM seg
      WHERE md5(seg) NOT IN (SELECT h FROM freq)
    ),
    cleaned AS (
      SELECT doc_id,
             string_agg(seg, ' ' ORDER BY pos) AS ctext,
             CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(ceil(len(t.tok)/{LINE_SEG_TOKENS}.0) AS BIGINT) AS n_segs,
           CAST(COALESCE(c.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(len(COALESCE(c.ctext, '')) AS BIGINT) AS cleaned_n_chars,
           md5(COALESCE(c.ctext, '')) AS cleaned_md5
    FROM t LEFT JOIN cleaned c USING (doc_id)
    """,
)
def line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINE-LEVEL exact dedup with TEXT RECONSTRUCTION (the RefinedWeb /
    CCNet paragraph-dedup transform — Penedo et al. 2023 §4.2): any
    SEGMENT whose exact content appears in >= 2 distinct documents
    (navigation chrome, license footers, quoted boilerplate) is excised
    from EVERY document, and the cleaned text is re-assembled in
    original order.  This differs from every other operator in the
    dedup family: it produces a TRANSFORMED CORPUS, not a report —
    x_boilerplate_windows is the detector; this is the scalpel.
    Segments are fixed 8-token windows (the fixture has no newlines;
    with real text the tokenizer swaps for split(text, '\\n') and
    nothing else changes).

    Output per doc: segment counts before/after, cleaned length, and
    md5 of the cleaned text (the value-hash travels; the text itself
    would bloat the compare).  Docs whose every segment is boilerplate
    survive with empty cleaned text — the curation gate that drops them
    reads n_kept = 0.

    Plan: segmentation is a row-local `transform` over the token array
    (zero shuffle — Generate only); ONE hash agg finds frequent
    segment hashes (distinct-doc counted); one LEFT ANTI join drops
    them (frequent side is tiny — broadcast); one per-doc
    collect_list(struct(pos, seg)) + sort_array re-assembles (state =
    one document, the same bound as x_doc_chunk).  100 TB: every stage
    is segment-grain linear; the frequent table is the only shared
    state and it shrinks with the df threshold."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens_col().alias("tok"))
    segs = F.expr(
        f"transform(sequence(0, cast(ceil(size(tok)/{LINE_SEG_TOKENS}.0) as int) - 1),"
        f" i -> array_join(slice(tok, i*{LINE_SEG_TOKENS}+1, {LINE_SEG_TOKENS}), ' '))"
    )
    seg = t.select("doc_id", F.posexplode(segs).alias("pos", "seg"))
    freq = (
        seg.groupBy(F.md5("seg").alias("h"))
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= LINE_DEDUP_MIN_DOCS)
        .select("h")
    )
    kept = seg.join(
        F.broadcast(freq), F.md5(seg["seg"]) == freq["h"], "left_anti"
    )
    cleaned = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("ctext"),
    )
    n_segs = F.ceil(F.col("n_tok") / F.lit(float(LINE_SEG_TOKENS))).cast(
        "bigint"
    )
    base = t.select("doc_id", F.size("tok").alias("n_tok"))
    return base.join(cleaned, "doc_id", "left").select(
        "doc_id",
        n_segs.alias("n_segs"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        F.length(F.coalesce("ctext", F.lit(""))).cast("bigint").alias(
            "cleaned_n_chars"
        ),
        F.md5(F.coalesce("ctext", F.lit(""))).alias("cleaned_md5"),
    )


@register(
    "x_graph_modularity",
    uses=("scored_pairs",),
    oracle=f"""
    WITH {_DUCK_WIDE_VERIFIED_PAIRS},
    e AS (
      SELECT da.source AS sa, db.source AS sb
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b
    ),
    mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
    deg AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS d_sum FROM (
        SELECT sa AS source FROM e UNION ALL SELECT sb AS source FROM e
      ) GROUP BY source
    ),
    win AS (
      SELECT sa AS source, CAST(COUNT(*) AS BIGINT) AS n_within
      FROM e WHERE sa = sb GROUP BY sa
    )
    SELECT d.source, d.d_sum,
           COALESCE(w.n_within, 0) AS n_within,
           ROUND(COALESCE(w.n_within, 0) / CAST(mm.m AS DOUBLE)
                 - (d.d_sum / (2.0 * mm.m)) * (d.d_sum / (2.0 * mm.m)),
                 4) AS q_contrib,
           ROUND(SUM(COALESCE(w.n_within, 0) / CAST(mm.m AS DOUBLE)
                     - (d.d_sum / (2.0 * mm.m))
                       * (d.d_sum / (2.0 * mm.m))) OVER (), 4) AS q_total
    FROM deg d LEFT JOIN win w ON w.source = d.source, mm
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCE-PARTITION MODULARITY of the near-dup graph (Newman-Girvan
    Q over the partition the corpus already carries): Q = Σ_s (e_s/m −
    (d_s/2m)²) where e_s counts within-source near-dup edges and d_s the
    source's endpoint degree sum — the graph-level answer to "does
    duplication stay inside a source or bleed across crawls?".  Q near
    its maximum says near-dups are a per-source phenomenon (dedup can
    shard by source); Q ≈ 0 says cross-source duplication dominates and
    a global pass is mandatory — the decision x_cross_source_dup's
    corpus-level resemblance table feeds, scored here on the ACTUAL
    verified-pair graph.  Per-source contributions are emitted alongside
    the global Q so the offending source is named, not inferred.

    Plan/scale: edges come from the shared wide-band verified-pair
    checkpoint (candidate grain, ~linear in corpus — the round-7 family);
    everything after is TWO candidate-grain joins to fetch endpoint
    sources and three aggregates at |sources| grain.  The global window
    sum runs over ≤ |sources| rows.  All counts integer; the two
    divisions are the only floats, identical expression order in both
    engines, ROUND 4."""
    pairs = _verified_pairs_checkpointed(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    e = (
        pairs.join(
            docs.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
            ),
            "doc_a",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
            ),
            "doc_b",
        )
        .select("sa", "sb")
    )
    m1 = e.agg(F.count(F.lit(1)).alias("m"))
    deg = (
        e.select(F.col("sa").alias("source"))
        .unionAll(e.select(F.col("sb").alias("source")))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("d_sum"))
    )
    win = (
        e.filter(F.col("sa") == F.col("sb"))
        .groupBy(F.col("sa").alias("source"))
        .agg(F.count(F.lit(1)).alias("n_within"))
    )
    z = F.lit(0).cast("bigint")
    j = (
        deg.join(win, "source", "left")
        .crossJoin(F.broadcast(m1))
        .select(
            "source",
            "d_sum",
            F.coalesce("n_within", z).alias("n_within"),
            (
                F.coalesce("n_within", z) / F.col("m").cast("double")
                - (F.col("d_sum") / (2.0 * F.col("m")))
                * (F.col("d_sum") / (2.0 * F.col("m")))
            ).alias("contrib"),
        )
    )
    from pyspark.sql.window import Window as _W

    wall = _W.partitionBy()
    return j.select(
        "source",
        "d_sum",
        "n_within",
        F.round("contrib", 4).alias("q_contrib"),
        F.round(F.sum("contrib").over(wall), 4).alias("q_total"),
    )
