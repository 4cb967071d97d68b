"""Source-mixture rebalancing: temperature-weighted sampling rates.

Training corpora are mixed from heterogeneous sources with explicit
per-source sampling weights — GPT-3's dataset weights, The Pile's
epochs-per-subset, XLM-R's temperature sampling p_s ∝ m_s^τ. This
family computes token-mass temperature weights over ``documents`` and
turns them into per-document integer copy counts:

- :func:`mixture_weights` — per-source token mass → temperature-
  smoothed target share → expected copies-per-document rate, all in
  integer micro-units.
- :func:`mixture_rebalance` — per-document ``n_copies`` = base epochs
  (floor of the rate) + one md5-thresholded Bernoulli copy for the
  fractional part. Every document emits a row (``n_copies`` may be
  0); downstream expansion is a ``sequence()`` explode.

Relationship to ``textstats.mix_weights`` (the r5 report): SAME
temperature curve (α=0.5; sqrt of the token share and sqrt of the raw
token mass normalize to the identical distribution — the 1/total
factors out of the ratio). ``mix_weights`` reports 6dp doubles
(p_raw / weight / oversample) for humans; THIS module is its
integer-micro-unit twin, and exists because the apply family's
md5-Bernoulli copy rule needs exact integers to compare — a 6dp
double rate would reintroduce cross-engine float compares at the
keep/drop boundary.

τ is FIXED at 0.5 so the smoothing is ``sqrt()``: IEEE 754 requires
sqrt to be correctly rounded, so both engines (and the pure-Python
replay) produce bit-identical doubles — a generic ``power(x, τ)`` has
no such guarantee, and while the micro-unit round would shield almost
every value, sqrt removes the risk entirely. All derived quantities
follow the repo's shared-expression discipline: ONE SQL string per
quantity evaluated verbatim by Spark and DuckDB, integer inputs,
half-up round to micro-units at the boundary.

Cross-engine determinism of the Bernoulli copy: the uniform draw is
the 24-bit integer value of the first 6 md5 hex nibbles of
``'mix:' || doc_id`` (the sketches/KEEP16 idiom), and the threshold
test is pure integer arithmetic — ``u24 * 1e6 < frac_micro * 2^24``
is exact (no modulo bias, no float compare).

100 TB shape: two passes over the corpus, both narrow. Pass 1 is a
map-side-combined groupBy(source) that reduces the corpus to
#sources rows; the totals row is the broadcast-scalar pattern. Pass 2
joins the #sources-row rate frame back per document — a genuinely
dimension-sized broadcast (unlike corpus-cardinality frames, which
this repo never broadcasts). A single-scan alternative — a window
partitioned by source — would shuffle the WHOLE corpus into #sources
hot partitions (catastrophic skew at 20 sources × 100 TB); the extra
narrow scan is the right trade.

Skew assumption on the copy explode (ADVICE r6): ``n_copies`` has no
epoch cap, so a near-empty source in a huge mixed corpus gets
``rate_micro ~ (total_tokens/source_tokens)^(1-τ)``-scaled copies —
potentially millions per document — and ``explode(sequence(1, n))``
amplifies rows unboundedly. Reference temperature-mixing schemes
clamp this (The Pile caps epochs-per-subset); a deployment over
adversarially unbalanced sources must add the same clamp to
``_RATE_SQL`` (mirrored in its oracle — a Spark-only clamp would
break parity the first time it bites). Left uncapped here because
the contract corpus is balanced by construction (source shares
within ~2x) and the cap constant would be dead policy the gate never
exercises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdftotext_spark.operators.sketches import _hex_val_sql
from pdftotext_spark.operators.textstats import (
    PACK_BUDGET_TOKENS as _PACK_BUDGET,
)

_NTOK_EXPR = "size(filter(split(lower(text), ' '), t -> t <> ''))"
_NTOK_SQL = "len(list_filter(string_split(lower(text), ' '), t -> t <> ''))"

def _pw_sql_for(toks: str = "toks") -> str:
    """Temperature-smoothed mass sqrt(token_mass) in micro-units
    (τ=0.5), parameterized on the mass column — the incremental
    report evaluates it on both the merged and the corpus-only
    masses; one builder, zero copy-pasted spellings."""
    return f"CAST(round(sqrt({toks} * 1e0) * 1000000e0, 0) AS BIGINT)"


_PW_SQL = _pw_sql_for()

# share of the smoothed total (Σ over sources of pw_micro, integer sum
# — order-free, unlike a float Σ of raw sqrt values). tot_pw = 0 (an
# all-empty-token corpus) must be guarded: Spark evaluates the double
# 0/0 to NaN (→ CAST 0) where DuckDB returns NULL — the one input
# where the shared expression would NOT be shared.
_SHARE_SQL = (
    "CAST(CASE WHEN tot_pw = 0 THEN 0 ELSE "
    "round(pw_micro * 1000000e0 / tot_pw, 0) END AS BIGINT)"
)

# expected copies per document of the source: the source's target
# token share times the total token budget, spread over its own
# tokens — share * tot_toks / toks. A zero-token source has nothing
# to upsample (and the division would diverge cross-engine): rate 0.
# (toks = 0 implies pw_micro = 0, so the guard also covers the
# tot_pw = 0 all-empty corpus: every source rates 0.)
def _rate_sql_for(
    tot_pw: str = "tot_pw",
    tot_toks: str = "tot_toks",
    pw: str = "pw_micro",
    toks: str = "toks",
) -> str:
    """The rate expression parameterized on its four column names —
    the incremental report evaluates it twice on one frame (corpus-
    only and merged columns); the defaults keep every existing use
    byte-identical. One builder, zero string surgery."""
    return (
        f"CAST(CASE WHEN {toks} = 0 THEN 0 ELSE "
        f"round(({pw} * 1e0 / {tot_pw}) * ({tot_toks} * 1e0 / {toks}) "
        "* 1000000e0, 0) END AS BIGINT)"
    )


_RATE_SQL = _rate_sql_for()

# floor() over doubles is exact for rate values < 2^52 micro-units
_BASE_SQL = "CAST(floor(rate_micro * 1e0 / 1000000e0) AS BIGINT)"
_FRAC_SQL = (
    "CAST(rate_micro - floor(rate_micro * 1e0 / 1000000e0) * 1000000 "
    "AS BIGINT)"
)
_U24_SQL = _hex_val_sql("md5('mix:' || did)", 1, 6)
# keep iff u24 / 2^24 < frac / 1e6  ⟺  u24 * 1e6 < frac * 2^24
# (both sides <= ~1.7e13: exact BIGINT arithmetic, no bias)
_NCOPIES_SQL = (
    f"{_BASE_SQL} + CASE WHEN ({_U24_SQL}) * 1000000 "
    f"< ({_FRAC_SQL}) * 16777216 THEN 1 ELSE 0 END"
)


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def mixture_weights_for(docs: DataFrame) -> DataFrame:
    """Per-source mixture plan over an arbitrary ``(doc_id, source,
    text)`` frame: token mass, sqrt-smoothed weight, target share and
    expected copies-per-doc rate (micro-units). Output one row per
    source ordered by source name.

    The Σ totals are an UNPARTITIONED window over the per-source frame
    — deliberately: an ``agg()`` + crossJoin-back consumes the
    per-source frame twice, and Spark re-runs the whole corpus
    scan+aggregate lineage for the second subtree (ReusedExchange does
    NOT collapse differently-projected subtrees — the round-6
    ExactSubstr lesson, verified here too: the crossJoin form planned
    TWO FileScans). The window's single-partition exchange moves only
    #sources rows, and the sums are integer (order-free)."""
    per_src = (
        docs.select(
            "source", F.expr(_NTOK_EXPR).cast("long").alias("ntok")
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("ntok").cast("long").alias("toks"),
        )
        .withColumn("pw_micro", F.expr(_PW_SQL))
    )
    wtot = Window.partitionBy()
    return (
        per_src.withColumn(
            "tot_pw", F.sum("pw_micro").over(wtot).cast("long")
        )
        .withColumn("tot_toks", F.sum("toks").over(wtot).cast("long"))
        .select(
            "source",
            "n_docs",
            "toks",
            "pw_micro",
            F.expr(_SHARE_SQL).alias("share_micro"),
            F.expr(_RATE_SQL).alias("rate_micro"),
        )
        .orderBy("source")
    )


def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered mixture plan over the ``documents`` table."""
    return mixture_weights_for(_read(spark, sf_dir, "documents"))


def mixture_rebalance_for(docs: DataFrame) -> DataFrame:
    """Per-document copy counts implementing the
    :func:`mixture_weights_for` plan: ``n_copies`` = floor(rate) base
    epochs + one extra copy iff the doc's 24-bit md5 draw falls under
    the fractional part. Output: doc_id, source, rate_micro, u24,
    n_copies — EVERY input document emits a row (the emit-all apply
    discipline; ``n_copies`` = 0 means dropped)."""
    rates = mixture_weights_for(docs).select("source", "rate_micro")
    d = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("doc_id").cast("string").alias("did"),
    )
    return (
        d.join(F.broadcast(rates), "source")
        .select(
            "doc_id",
            "source",
            "rate_micro",
            F.expr(_U24_SQL).cast("long").alias("u24"),
            F.expr(_NCOPIES_SQL).cast("long").alias("n_copies"),
        )
    )


def mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered per-document rebalance over ``documents``."""
    return mixture_rebalance_for(_read(spark, sf_dir, "documents"))


def mixture_pack_for(docs: DataFrame) -> DataFrame:
    """The composed mix→expand→pack step a training-set build actually
    runs: expand each document into its :func:`mixture_rebalance_for`
    copies (1-based ``copy_idx``; zero-copy documents vanish), then
    assign each copy to a fixed-token training pack by its running
    token offset within its source — the ``pack_sequences`` offset
    policy (pack = offset // budget, copies in (doc_id, copy_idx)
    order) applied to the REBALANCED stream, so upsampled sources
    occupy proportionally more packs.

    Token counts here are the mixture convention (non-empty
    whitespace tokens — what the rates were computed over), not
    ``pack_sequences``'s separators+1; one convention per query.

    Output: doc_id, copy_idx, source, n_tokens, start_offset,
    pack_id.

    100 TB shape: the copy explode multiplies rows by the rate (~1×)
    before the pack window, and ``n_copies`` is computed in the SAME
    apply-side scan that feeds the window — still exactly two corpus
    scans (stats + apply), rates broadcast, then one window per
    source partition (no global sort; sources are the natural
    parallel unit of a corpus build, as in ``pack_sequences``)."""
    rates = mixture_weights_for(docs).select("source", "rate_micro")
    d = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("doc_id").cast("string").alias("did"),
        F.expr(_NTOK_EXPR).cast("long").alias("n_tokens"),
    )
    expanded = (
        d.join(F.broadcast(rates), "source")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.expr(_NCOPIES_SQL).cast("long").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 0)
        # sequence() with start > stop counts DOWN in Spark — the
        # n_copies > 0 filter above keeps the bounds ordered
        .select(
            "doc_id",
            "source",
            "n_tokens",
            # n_copies is long, so the sequence elements already are;
            # a cast would nest the generator in an expression (error)
            F.explode(F.expr("sequence(1, n_copies)")).alias("copy_idx"),
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id", "copy_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    return expanded.select(
        "doc_id",
        "copy_idx",
        "source",
        "n_tokens",
        off.alias("start_offset"),
        # budget is a power of two: double division + truncation is
        # binary-exact (the pack_sequences cast-truncation note)
        (off / F.lit(_PACK_BUDGET)).cast("long").alias("pack_id"),
    )


def mixture_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered mix→expand→pack composition over ``documents``."""
    return mixture_pack_for(_read(spark, sf_dir, "documents"))


_WEIGHTS_CTES = f"""
per_src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM({_NTOK_SQL}) AS BIGINT) AS toks
  FROM documents
  GROUP BY source
),
w AS (
  SELECT source, n_docs, toks, {_PW_SQL} AS pw_micro FROM per_src
),
tot AS (
  SELECT CAST(SUM(pw_micro) AS BIGINT) AS tot_pw,
         CAST(SUM(toks) AS BIGINT) AS tot_toks
  FROM w
)"""

MIXTURE_WEIGHTS_SQL = f"""
WITH {_WEIGHTS_CTES}
SELECT source, n_docs, toks, pw_micro,
       {_SHARE_SQL} AS share_micro,
       {_RATE_SQL} AS rate_micro
FROM w, tot
ORDER BY source
"""

MIXTURE_REBALANCE_SQL = f"""
WITH {_WEIGHTS_CTES},
r AS (
  SELECT source, {_RATE_SQL} AS rate_micro FROM w, tot
)
SELECT d.doc_id, d.source, r.rate_micro,
       CAST({_U24_SQL} AS BIGINT) AS u24,
       CAST({_NCOPIES_SQL} AS BIGINT) AS n_copies
FROM (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         CAST(doc_id AS VARCHAR) AS did
  FROM documents
) d
JOIN r USING (source)
"""


# rate-join → copy-expand → offset/pack window CTE chain shared by
# BOTH pack oracles — one source or the mixture_pack and
# pack_manifest twins drift apart (the _WEIGHTS_CTES rule applied to
# the pack pipeline)
_PACK_CTES = f"""r AS (
  SELECT source, {_RATE_SQL} AS rate_micro FROM w, tot
),
copies AS (
  SELECT d.doc_id, d.source, d.n_tokens,
         CAST({_NCOPIES_SQL} AS BIGINT) AS n_copies
  FROM (
    SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
           CAST(doc_id AS VARCHAR) AS did,
           CAST({_NTOK_SQL} AS BIGINT) AS n_tokens
    FROM documents
  ) d
  JOIN r USING (source)
),
expanded AS (
  SELECT doc_id, source, n_tokens,
         CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS copy_idx
  FROM copies
  WHERE n_copies > 0
),
packed AS (
  SELECT doc_id, copy_idx, source, n_tokens,
         CAST(coalesce(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id, copy_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset,
         CAST(coalesce(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id, copy_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           // {_PACK_BUDGET} AS BIGINT) AS pack_id
  FROM expanded
)"""

MIXTURE_PACK_SQL = f"""
WITH {_WEIGHTS_CTES},
{_PACK_CTES}
SELECT doc_id, copy_idx, source, n_tokens, start_offset, pack_id
FROM packed
"""


def pack_manifest_for(docs: DataFrame) -> DataFrame:
    """The per-pack manifest a training data loader consumes: for
    every (source, pack_id) of :func:`mixture_pack_for`, the ordered
    entry list (``doc_id:copy_idx`` pairs) and each entry's start
    offset WITHIN the pack, as comma-joined strings (strings, not
    arrays, so the cross-engine value gate compares scalar text —
    and a manifest row is a text line anyway).

    Output: source, pack_id, n_entries, pack_tokens, entries,
    offsets.

    Zero-token entries are EXCLUDED: a loader has nothing to read
    from them, and — decisive for the bound below — they never
    advance the pack offset, so an empty-doc-heavy source could put
    unboundedly many of them into one pack (review r6s7).

    100 TB shape: one groupBy over the (token-bearing) expanded
    stream; with every entry >= 1 token, per-group state is bounded
    by the pack budget (a pack holds at most _PACK_BUDGET entries),
    so the collect_list can never blow up a task — the bound is the
    design, not luck."""
    packed = mixture_pack_for(docs).filter(F.col("n_tokens") > 0)
    entry = F.struct(
        F.col("doc_id"), F.col("copy_idx"), F.col("start_offset"),
        F.col("n_tokens"),
    )
    g = packed.groupBy("source", "pack_id").agg(
        F.count("*").cast("long").alias("n_entries"),
        F.sum("n_tokens").cast("long").alias("pack_tokens"),
        F.sort_array(F.collect_list(entry)).alias("es"),
    )
    return g.select(
        "source",
        "pack_id",
        "n_entries",
        "pack_tokens",
        F.expr(
            "array_join(transform(es, "
            "x -> concat(x.doc_id, ':', x.copy_idx)), ',')"
        ).alias("entries"),
        F.expr(
            f"array_join(transform(es, "
            f"x -> CAST(x.start_offset - pack_id * {_PACK_BUDGET} "
            f"AS STRING)), ',')"
        ).alias("offsets"),
    )


def pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered per-pack manifest over ``documents``."""
    return pack_manifest_for(_read(spark, sf_dir, "documents"))


PACK_MANIFEST_SQL = f"""
WITH {_WEIGHTS_CTES},
{_PACK_CTES}
SELECT source, pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_entries,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       COALESCE(array_to_string(list(doc_id || ':' || copy_idx
         ORDER BY doc_id, copy_idx), ','), '') AS entries,
       COALESCE(array_to_string(list(
         CAST(start_offset - pack_id * {_PACK_BUDGET} AS VARCHAR)
         ORDER BY doc_id, copy_idx), ','), '') AS offsets
FROM packed
WHERE n_tokens > 0
GROUP BY source, pack_id
"""


# ----------------------------------------------- incremental mixture

# the dedup_incremental_* split convention — IMPORTED, not
# re-declared, so the two incremental families can never disagree on
# which sources are corpus vs incoming. corpus = source < SPLIT,
# incoming = source >= SPLIT (lexicographic; the fixture has no
# snapshot column). Token counts are ADDITIVE, so the mixing plan is
# incrementally maintainable from a persisted per-source counts table
# — the sum-merge algebra of the sketch family (lineage-bound:
# replaying a batch must not double-count).
from pdftotext_spark.operators.dedup import (  # noqa: E402
    INCREMENTAL_SPLIT as MIX_INCREMENTAL_SPLIT,
)


def mixture_incremental_for(docs: DataFrame) -> DataFrame:
    """The mixing-plan shift report a data-ops run checks before
    re-materializing the stream gate's rates table after a batch
    lands: per source, the corpus/incoming token masses and the
    expected-copies rate BEFORE (corpus-only plan; a source absent
    from it rates 0 — the plan is the admission list) and AFTER
    (merged counts — pinned equal to :func:`mixture_weights_for`
    over the union by test) plus the delta.

    Output: source, is_incoming, n_docs, toks_corpus, toks_incoming,
    rate_before_micro, rate_after_micro, rate_delta_micro.

    100 TB shape: ONE corpus scan map-side-combined to #sources rows
    (the split flag is a per-source predicate, so corpus/incoming
    masses are conditional sums in the same aggregate); both plans'
    totals are unpartitioned windows over that tiny frame. In
    production the counts table is persisted and the scan is the
    increment only — counts merge by addition."""
    per_src = (
        docs.select(
            "source",
            F.expr(_NTOK_EXPR).cast("long").alias("ntok"),
            (F.col("source") >= MIX_INCREMENTAL_SPLIT).alias("inc"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.max("inc").alias("is_incoming"),
            F.sum(F.when(~F.col("inc"), F.col("ntok")).otherwise(0))
            .cast("long")
            .alias("toks_corpus"),
            F.sum(F.when(F.col("inc"), F.col("ntok")).otherwise(0))
            .cast("long")
            .alias("toks_incoming"),
        )
        .withColumn(
            "toks", (F.col("toks_corpus") + F.col("toks_incoming")).cast("long")
        )
        .withColumn("pw_micro", F.expr(_PW_SQL))
        # the before-plan weight: sqrt of the CORPUS-only mass
        .withColumn("pw_b", F.expr(_pw_sql_for("toks_corpus")))
    )
    wtot = Window.partitionBy()
    with_tots = (
        per_src.withColumn(
            "tot_pw", F.sum("pw_micro").over(wtot).cast("long")
        )
        .withColumn("tot_toks", F.sum("toks").over(wtot).cast("long"))
        .withColumn("tot_pw_b", F.sum("pw_b").over(wtot).cast("long"))
        .withColumn(
            "tot_toks_b", F.sum("toks_corpus").over(wtot).cast("long")
        )
    )
    rate_after = F.expr(_rate_sql_for())
    rate_before = F.expr(
        # the before-plan rates over corpus-only columns; an incoming
        # (plan-absent) source rates 0 by the admission-list policy
        "CASE WHEN is_incoming THEN CAST(0 AS BIGINT) ELSE "
        + _rate_sql_for("tot_pw_b", "tot_toks_b", pw="pw_b", toks="toks_corpus")
        + " END"
    )
    return (
        with_tots.select(
            "source",
            "is_incoming",
            "n_docs",
            "toks_corpus",
            "toks_incoming",
            rate_before.alias("rate_before_micro"),
            rate_after.alias("rate_after_micro"),
        )
        .withColumn(
            "rate_delta_micro",
            (F.col("rate_after_micro") - F.col("rate_before_micro")).cast(
                "long"
            ),
        )
        .orderBy("source")
    )


def mixture_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered incremental mixing-plan report over ``documents``."""
    return mixture_incremental_for(_read(spark, sf_dir, "documents"))


MIXTURE_INCREMENTAL_SQL = f"""
WITH per_src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         source >= '{MIX_INCREMENTAL_SPLIT}' AS is_incoming,
         CAST(SUM(CASE WHEN source < '{MIX_INCREMENTAL_SPLIT}'
              THEN {_NTOK_SQL} ELSE 0 END) AS BIGINT) AS toks_corpus,
         CAST(SUM(CASE WHEN source >= '{MIX_INCREMENTAL_SPLIT}'
              THEN {_NTOK_SQL} ELSE 0 END) AS BIGINT) AS toks_incoming
  FROM documents
  GROUP BY source
),
w AS (
  SELECT *, CAST(toks_corpus + toks_incoming AS BIGINT) AS toks
  FROM per_src
),
pw AS (
  SELECT *,
         {_PW_SQL} AS pw_micro,
         {_pw_sql_for("toks_corpus")} AS pw_b
  FROM w
),
tots AS (
  SELECT *,
         CAST(SUM(pw_micro) OVER () AS BIGINT) AS tot_pw,
         CAST(SUM(toks) OVER () AS BIGINT) AS tot_toks,
         CAST(SUM(pw_b) OVER () AS BIGINT) AS tot_pw_b,
         CAST(SUM(toks_corpus) OVER () AS BIGINT) AS tot_toks_b
  FROM pw
)
SELECT source, is_incoming, n_docs, toks_corpus, toks_incoming,
       CAST(CASE WHEN is_incoming THEN 0 ELSE
         {_rate_sql_for("tot_pw_b", "tot_toks_b", pw="pw_b", toks="toks_corpus")}
         END AS BIGINT) AS rate_before_micro,
       {_rate_sql_for()} AS rate_after_micro,
       CAST({_rate_sql_for()}
         - CASE WHEN is_incoming THEN 0 ELSE
           {_rate_sql_for("tot_pw_b", "tot_toks_b", pw="pw_b", toks="toks_corpus")}
           END AS BIGINT) AS rate_delta_micro
FROM tots
ORDER BY source
"""
