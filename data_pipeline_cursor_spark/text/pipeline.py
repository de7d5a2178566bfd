"""The composed curation pipeline — the end-to-end flow a training-data
team actually runs, as ONE verified query (SURVEY.md §2.E capstone).

Stages, in dependency order, each already proven as a standalone operator:

1. **quality gate** — length and token-count bounds (x_quality_score's
   family of signals, reduced to the two portable ones);
2. **exact dedup** — keep the min doc_id per identical text (x_dedup_exact);
3. **near-dup drop** — greedy: drop every doc that appears as the LARGER
   id of a verified near-dup pair over the surviving set
   (minhash_verified_pairs_df — the wide-band + exact-Jaccard family
   that is the round-7 default for the whole dedup-graph stack; the
   prefix-block jaccard_pairs_df went quadratic at sf10).  Greedy-by-id
   keeps at least one doc per near-dup cluster deterministically without
   the iterative clustering pass (x_dedup_cluster is the exact variant);
4. **stratified sample** — per-language keep rates by portable hash
   residue (x_stratified_sample's idiom);
5. **audit summary** — per (lang, source) doc/token/char counts, the
   numbers a curation run reports.

Each stage's intermediate is a DataFrame — the pipeline is ONE lazy plan,
so Catalyst sees through the whole composition (filters reach the scan,
the dedup aggregate and the signature pipeline share the gated corpus
via one cache).  The DuckDB oracle replays all five stages as chained
CTEs, so the final audit numbers are value-checked end to end.

100 TB: stages 1/4 are zero-shuffle predicates; stage 2 is one hash agg on
text; stage 3 is band equi-joins + candidate-sized exact verify (never
O(n²) — candidates ~linear in the corpus, round-6 measurement) plus an
anti-join on doc id; stage 5 one small agg.  Nothing collects; every
stage's output is a fraction of its input, so the expensive pair join runs
on the already-gated corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_cursor_spark.registry import read_artifact, register
from data_pipeline_cursor_spark.sources import load_table
from data_pipeline_cursor_spark.text.dedup import (
    duck_wide_verified_pairs,
    minhash_verified_pairs_df,
    phash,
)

MIN_CHARS, MAX_CHARS = 50, 10_000
MIN_TOKENS = 10

_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, text, lang, source, n_chars,
             len(string_split(lower(text), ' ')) AS n_tok
      FROM documents
    ),
    gated AS (
      SELECT * FROM base
      WHERE n_chars BETWEEN {MIN_CHARS} AND {MAX_CHARS}
        AND n_tok >= {MIN_TOKENS}
    ),
    keepers AS (
      SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY text
    ),
    exact_deduped AS (
      SELECT g.* FROM gated g JOIN keepers USING (doc_id)
    ),
    {duck_wide_verified_pairs('exact_deduped')},
    near_deduped AS (
      SELECT * FROM exact_deduped
      WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
    ),
    sampled AS (
      SELECT * FROM near_deduped
      WHERE ('0x' || substr(md5('strat:' || doc_id), 1, 15))::BIGINT % 100
            < CASE lang WHEN 'en' THEN 80 WHEN 'zh' THEN 50 ELSE 20 END
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT)    AS n_docs,
           CAST(SUM(n_tok) AS BIGINT)  AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM sampled
    GROUP BY lang, source
"""


@register("x_curation_pipeline", oracle=_ORACLE, uses=("minhash_base",))
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate → exact dedup → greedy near-dup drop → stratified
    sample → audit summary, as one lazy Spark plan (module docstring)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.withColumn(
        "n_tok", F.size(F.split(F.lower("text"), " ")).cast("bigint")
    )
    gated = base.filter(
        F.col("n_chars").between(MIN_CHARS, MAX_CHARS)
        & (F.col("n_tok") >= MIN_TOKENS)
    )
    keepers = gated.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    # cache: the exact-deduped corpus feeds the signature pipeline, the
    # shingle-set verify AND the anti-join — uncached, the gate + dedup
    # subplan would re-run three times
    exact_deduped = gated.join(keepers.select("doc_id"), "doc_id").cache()
    # the gated corpus is an ID-PRESERVING SUBSET of the base table, so
    # its per-document artifacts are an id join against the shared base
    # ones — no re-hashing (signature rows for shingle-less docs are
    # absent in both constructions, so the inner join is exact)
    art = read_artifact("minhash_base", spark, sf_dir)
    sig = sets = None
    if art is not None:
        ids = exact_deduped.select("doc_id")
        sig, sets = (t.join(ids, "doc_id") for t in art)
    dropped = (
        minhash_verified_pairs_df(exact_deduped, sig=sig, sets=sets)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    near_deduped = exact_deduped.join(dropped, "doc_id", "left_anti")
    rate = (
        F.when(F.col("lang") == "en", 80)
        .when(F.col("lang") == "zh", 50)
        .otherwise(20)
    )
    sampled = near_deduped.filter(
        phash(F.col("doc_id").cast("string"), "strat") % 100 < rate
    )
    return sampled.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


# tok → tf → LMs → integer micro-nat log-ratios → per-doc weight fold:
# the DSIR scored table, shared by x_dsir_weights (top-100 ranking) and
# x_dsir_sample (Gumbel-top-k resampling).
_DUCK_DSIR_SCORED = """tok AS (
      SELECT doc_id, t.tk AS token
      FROM documents, unnest(string_split(lower(text), ' ')) AS t(tk)
    ),
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, token
    ),
    raw_lm AS (
      SELECT token, CAST(SUM(tf) AS BIGINT) AS c_r FROM tf GROUP BY token
    ),
    tgt_lm AS (
      SELECT tf.token, CAST(SUM(tf.tf) AS BIGINT) AS c_t
      FROM tf JOIN documents d ON tf.doc_id = d.doc_id
      WHERE d.lang = 'en'
      GROUP BY tf.token
    ),
    totals AS (
      SELECT CAST(SUM(c_r) AS BIGINT) AS t_r,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM raw_lm
    ),
    tgt_total AS (
      SELECT CAST(COALESCE(SUM(c_t), 0) AS BIGINT) AS t_t FROM tgt_lm
    ),
    lr AS (
      SELECT r.token,
             CAST(ROUND(CAST(
               ln((COALESCE(g.c_t, 0) + 1.0) / CAST(tt.t_t + t.v AS DOUBLE))
               - ln((r.c_r + 1.0) / CAST(t.t_r + t.v AS DOUBLE))
             AS DECIMAL(28,10)), 6) * 1000000 AS BIGINT) AS lr_micro
      FROM raw_lm r
      LEFT JOIN tgt_lm g ON r.token = g.token
      CROSS JOIN totals t CROSS JOIN tgt_total tt
    ),
    scored AS (
      SELECT tf.doc_id,
             CAST(SUM(tf.tf * lr.lr_micro) AS BIGINT) AS weight_micro
      FROM tf JOIN lr ON tf.token = lr.token
      GROUP BY tf.doc_id
    )"""


@register(
    "x_dsir_weights",
    oracle=f"""
    WITH {_DUCK_DSIR_SCORED},
    ranked AS (
      SELECT s.doc_id, d.lang, s.weight_micro,
             ROW_NUMBER() OVER (ORDER BY s.weight_micro DESC, s.doc_id)
               AS rn
      FROM scored s JOIN documents d ON s.doc_id = d.doc_id
    )
    SELECT CAST(rn AS INTEGER) AS rn, doc_id, lang, weight_micro
    FROM ranked WHERE rn <= 100 ORDER BY rn
    """,
)
def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR — Xie et al. 2023,
    arXiv:2302.03169): rank raw-corpus documents by how target-like they
    are under a pair of bag-of-words language models.  Target here = the
    English slice (the usual "looks like my eval distribution" proxy);
    the importance weight of doc x is

        log w(x) = Σ_w  tf(x, w) · [ log p_target(w) − log p_raw(w) ]

    with add-one smoothing over the RAW vocabulary for both models
    (target vocab ⊆ raw vocab by construction, so unseen-in-target words
    get the 1/(T_t+V) floor).  Output: the top-100 most target-like docs.

    Determinism discipline (registry.py rules): the per-WORD log-ratio is
    quantized once — DECIMAL(28,10) absorbs the ln() engine ulps, then a
    HALF_UP round to 6 decimals → integer micro-nats — and everything at
    doc grain is exact BIGINT (tf · lr_micro folds), so the top-100
    SELECTION order is bit-identical across engines, not merely close:
    a float fold here could flip ranks between Spark and the oracle.
    (The scored table is built by ``_dsir_scored`` — shared with
    x_dsir_sample, which resamples from these weights.)

    Plan shape: one tokenize pass → (doc, token, tf) hash agg; the two
    LMs are vocabulary-grain aggregates of that table (the target LM
    re-joins docs only to read `lang` — at 100 TB `lang` rides the token
    table and that join disappears); totals are one-row broadcasts; the
    vocab-sized log-ratio table broadcast-joins back onto tf; the doc
    fold is one hash agg; top-100 is TakeOrderedAndProject (per-partition
    heaps, driver merges 100×partitions rows) with the rank window run
    AFTER the limit — 100 rows, so the "global" window is trivially
    bounded.  Nothing vocabulary- or corpus-sized is ever collected."""
    scored = _dsir_scored(spark, sf_dir)
    top = scored.orderBy(
        F.col("weight_micro").desc(), F.col("doc_id")
    ).limit(100)
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("weight_micro").desc(), F.col("doc_id"))
    return top.select(
        F.row_number().over(w).cast("int").alias("rn"),
        "doc_id",
        "lang",
        "weight_micro",
    ).orderBy("rn")


def _dsir_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR scored table: (doc_id, lang, weight_micro) with the
    integer micro-nat importance weight (x_dsir_weights docstring)."""
    from data_pipeline_cursor_spark.sources import load_table
    from data_pipeline_cursor_spark.text.dedup import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens_col()).alias("token")
    )
    tf = tok.groupBy("doc_id", "lang", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    raw_lm = tf.groupBy("token").agg(F.sum("tf").alias("c_r"))
    tgt_lm = (
        tf.filter(F.col("lang") == "en")
        .groupBy("token")
        .agg(F.sum("tf").alias("c_t"))
    )
    totals = raw_lm.agg(
        F.sum("c_r").alias("t_r"), F.count(F.lit(1)).alias("v")
    )
    tgt_total = tgt_lm.agg(
        F.coalesce(F.sum("c_t"), F.lit(0)).alias("t_t")
    )
    d = F.log(
        (F.coalesce(F.col("c_t"), F.lit(0)) + F.lit(1.0))
        / (F.col("t_t") + F.col("v")).cast("double")
    ) - F.log(
        (F.col("c_r") + F.lit(1.0))
        / (F.col("t_r") + F.col("v")).cast("double")
    )
    lr = (
        raw_lm.join(F.broadcast(tgt_lm), "token", "left")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(tgt_total))
        .select(
            "token",
            (F.round(d.cast("decimal(28,10)"), 6) * 1000000)
            .cast("bigint")
            .alias("lr_micro"),
        )
    )
    return (
        tf.join(F.broadcast(lr), "token")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("tf") * F.col("lr_micro")).alias("weight_micro"))
    )


DSIR_SAMPLE_K = 50
_TWO_POW_60 = "1.152921504606846976e18"  # 2^60 exactly, parsed DOUBLE


@register(
    "x_dsir_sample",
    oracle=f"""
    WITH {_DUCK_DSIR_SCORED},
    keyed AS (
      SELECT s.doc_id, d.lang, s.weight_micro,
             s.weight_micro + CAST(ROUND(CAST(
               -ln(-ln((CAST(('0x' || substr(md5('dsir:' || s.doc_id), 1, 15))
                             ::BIGINT AS DOUBLE) + 0.5) / {_TWO_POW_60}))
             AS DECIMAL(28,10)), 6) * 1000000 AS BIGINT) AS key_micro
      FROM scored s JOIN documents d ON s.doc_id = d.doc_id
    ),
    ranked AS (
      SELECT doc_id, lang, weight_micro, key_micro,
             ROW_NUMBER() OVER (ORDER BY key_micro DESC, doc_id) AS rn
      FROM keyed
    )
    SELECT CAST(rn AS INTEGER) AS rn, doc_id, lang, weight_micro, key_micro
    FROM ranked WHERE rn <= {DSIR_SAMPLE_K} ORDER BY rn
    """,
)
def dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's RESAMPLING step (Xie et al. 2023 §2): draw K documents
    WITHOUT replacement with probability ∝ exp(importance weight), via
    the Gumbel-top-k identity — top-K by (log-weight + Gumbel noise) IS
    an exact sample from the softmax without ever normalizing:
    exponentiating micro-nat weights spanning ±10^7 would overflow, the
    additive key never does.

    Portable determinism: the per-doc uniform is the md5 hash residue
    ((h + 0.5) / 2^60 ∈ (0,1), never 0 or 1, so the double -ln(-ln(u))
    is finite); the Gumbel is quantized to integer micro-nats by the
    same DECIMAL(28,10)-then-round rule as the weights, so the sampling
    KEY and therefore the SAMPLE ITSELF are exact BIGINT comparisons —
    re-running on any cluster layout returns the identical K docs (the
    property a reproducible data recipe needs), and the oracle replays
    it bit-exactly.  2^60 is embedded in scientific notation (a plain
    integer literal would fold at DECIMAL scale in Spark — PLANS.md
    round-8 lesson 1).

    Plan: the shared scored pipeline (corpus tf fold + vocab-grain
    broadcast joins — x_dsir_weights), one md5 + two ln per doc inside
    the scan projection, TakeOrderedAndProject for the top-K (per-
    partition K-heaps, driver merges K×partitions rows), rank window
    only over the K survivors."""
    scored = _dsir_scored(spark, sf_dir)
    from data_pipeline_cursor_spark.text.dedup import phash

    u = (
        phash(F.col("doc_id").cast("string"), "dsir").cast("double")
        + F.lit(0.5)
    ) / F.expr(_TWO_POW_60)
    g_micro = (
        F.round((-F.log(-F.log(u))).cast("decimal(28,10)"), 6) * 1000000
    ).cast("bigint")
    keyed = scored.select(
        "doc_id",
        "lang",
        "weight_micro",
        (F.col("weight_micro") + g_micro).alias("key_micro"),
    )
    top = keyed.orderBy(
        F.col("key_micro").desc(), F.col("doc_id")
    ).limit(DSIR_SAMPLE_K)
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("key_micro").desc(), F.col("doc_id"))
    return top.select(
        F.row_number().over(w).cast("int").alias("rn"),
        "doc_id",
        "lang",
        "weight_micro",
        "key_micro",
    ).orderBy("rn")
