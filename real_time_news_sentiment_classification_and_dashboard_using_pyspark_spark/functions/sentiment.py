"""Lexicon sentiment scoring + threshold classification, Spark-first.

The reference scores text with TextBlob's pattern lexicon inside a
row-at-a-time Python UDF (work.py:87-94, streaming_pipeline.py:48-55 —
K1 in SURVEY §2) and classifies with a second Python UDF
(work.py:96-105 — K2/F2). Our engine replaces both with native plans:

- **Scorer** = broadcast join against a deterministic word->polarity
  lexicon, averaged per document (polarity = mean score over *matched
  token occurrences*, 0.0 when nothing matches — mirroring TextBlob's
  average-over-matched-words semantics and the reference's 0.0 default
  on empty/invalid input). Being a join+agg it is SQL-expressible, so
  the DuckDB oracle can verify it — impossible for the TextBlob UDF.
- **Classifier** (F2): pure ``when/otherwise``; thresholds +-0.1
  *exclusive*, null -> Neutral (work.py:96-105).
- **Confidence** (F3): |polarity| > 0.5 High, > 0.2 Medium, else Low
  (streaming_pipeline.py:146-151).

Scale: the lexicon is tiny and broadcast — the score is a map-side-only
operation (explode -> broadcast hash join -> partial agg) with a single
shuffle on doc_id for the final average. Determinism: lexicon scores are
integer centipoints, so the aggregate is an exact integer sum and the
polarity double is bit-identical on Spark and DuckDB (one IEEE division)
— no float tolerance anywhere in the sentiment path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import table
from .text import clean_text, tokens

# Deterministic engine lexicon over the testdata vocabulary. Scores are
# stored as INTEGER centipoints (score x 100): integer sums are exact on
# every engine, so polarity = sum / (100*n) is a *single* float division
# with identical operands on Spark and DuckDB — float summation order can
# never flip a rounding or threshold comparison.
LEXICON: list[tuple[str, int]] = [
    ("fast", 80),
    ("spark", 60),
    ("big", 50),
    ("stream", 40),
    ("merge", 30),
    ("value", 20),
    ("vector", 15),
    ("slow", -80),
    ("dup", -60),
    ("small", -45),
    ("filter", -30),
    ("scan", -20),
]


def lexicon_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(LEXICON, "word string, score100 int")


def lexicon_values_cte() -> str:
    """``lexicon(word, score100) AS (VALUES ...)`` body for the oracle SQL."""
    rows = ", ".join(f"('{w}', {s})" for w, s in LEXICON)
    return f"lexicon(word, score100) AS (VALUES {rows})"


def classify_expr(polarity: Column | str) -> Column:
    """Positive / Negative / Neutral with exclusive +-0.1 thresholds;
    null falls through to Neutral exactly like work.py:96-105."""
    p = F.col(polarity) if isinstance(polarity, str) else polarity
    return (
        F.when(p > 0.1, F.lit("Positive"))
        .when(p < -0.1, F.lit("Negative"))
        .otherwise(F.lit("Neutral"))
    )


def confidence_expr(polarity: Column | str) -> Column:
    """High / Medium / Low on |polarity| (streaming_pipeline.py:146-151)."""
    p = F.col(polarity) if isinstance(polarity, str) else polarity
    a = F.abs(F.coalesce(p, F.lit(0.0)))
    return (
        F.when(a > 0.5, F.lit("High"))
        .when(a > 0.2, F.lit("Medium"))
        .otherwise(F.lit("Low"))
    )


def lexicon_map() -> Column:
    """The lexicon as a literal MapType expression (word -> centipoints);
    constant-folded by Catalyst, so lookups are O(1) against a single
    in-plan literal."""
    pairs: list[Column] = []
    for w, s in LEXICON:
        pairs.extend([F.lit(w), F.lit(s)])
    return F.create_map(*pairs)


def polarity_expr(text_col: Column | str) -> Column:
    """Polarity as a pure column expression: map-literal lookup per token,
    exact integer sum, one float division — numerically identical to the
    broadcast-join scorer in score_text().

    This is the zero-shuffle rendering: usable inside Structured
    Streaming with append mode (no aggregation state), inside any
    projection, and on a 1000-executor cluster it is map-side-only work.

    r14 note (measured, kept): alternative JVM renderings — 12x
    size(split(' w '))-1 counts over space-doubled text, a single
    regexp_extract_all alternation, and a one-element-explode Generate
    barrier against re-inlining — ALL measured flat-to-slower than
    this one interpreted fold (2.1-3.6 s vs 1.4 s on the 5x-replicated
    corpus projection; the barrier changed nothing because consumers
    were NOT re-inlining it). The fold stays as the expression-path
    scorer; the batch/streaming article pipeline scores via the
    bit-equal Arrow scorer instead (pipeline.lexicon_polarity, guide
    §4.2)."""
    matched = F.filter(
        F.transform(tokens(text_col), lambda t: F.element_at(lexicon_map(), t)),
        lambda v: v.isNotNull(),
    )
    # ONE fold carrying (sum, count) — the old size()+aggregate() pair
    # inlined the whole tokenize/lookup chain 2-3x per row (HOFs are
    # CodegenFallback: no codegen subexpression elimination), measured
    # as the streaming pipeline's dominant per-row cost (r13). Same
    # arithmetic: exact long sum, int count, one double/int division;
    # null text -> null fold -> coalesce keeps the 0.0 contract.
    folded = F.aggregate(
        matched,
        F.struct(
            F.lit(0).cast("long").alias("s"), F.lit(0).cast("int").alias("n")
        ),
        lambda acc, x: F.struct(
            (acc.getField("s") + x.cast("long")).alias("s"),
            (acc.getField("n") + F.lit(1)).alias("n"),
        ),
        lambda acc: F.when(
            acc.getField("n") > 0,
            acc.getField("s").cast("double") / (acc.getField("n") * 100),
        ).otherwise(F.lit(0.0)),
    )
    return F.coalesce(folded, F.lit(0.0))




def score_text_expr(df: DataFrame, text_col: str) -> DataFrame:
    """Attach polarity + sentiment via the expression scorer (no joins,
    no shuffles — streaming-safe)."""
    return df.withColumn("polarity", polarity_expr(text_col)).withColumn(
        "sentiment", classify_expr("polarity")
    )


def score_text(df: DataFrame, id_col: str, text_col: str, spark: SparkSession) -> DataFrame:
    """Attach ``polarity`` (round 4, 0.0 default) and ``sentiment`` to any
    DataFrame with a unique id column and a text column.

    Physical shape: project(id, tokens) -> explode -> broadcast hash join
    (lexicon) -> hash agg on id (partial+final) -> left join back on the
    id. The join back is on the (unique) id key, so AQE plans it as a
    broadcast or coalesced shuffle join depending on size.
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("word"))
    scored = (
        tok.join(F.broadcast(lexicon_df(spark)), "word")
        .groupBy(id_col)
        .agg(
            # exact integer sum / exact integer denominator -> ONE float
            # division with identical operands on both engines
            (F.sum("score100").cast("double") / (F.count(F.lit(1)) * 100))
            .alias("_polarity_raw")
        )
    )
    # No rounding: the raw division is already bit-identical across
    # engines (exact integer operands, one IEEE division). Spark's
    # round() goes through Java's shortest-decimal-string rendering and
    # disagrees with DuckDB's numeric rounding exactly on ...5 values,
    # so rounding would *introduce* mismatches here, not remove them.
    return (
        df.join(scored, id_col, "left")
        .withColumn("polarity", F.coalesce(F.col("_polarity_raw"), F.lit(0.0)))
        .drop("_polarity_raw")
        .withColumn("sentiment", classify_expr("polarity"))
    )


def scored_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``documents`` table with polarity + sentiment attached —
    the engine rendering of the reference's clean->score->classify DAG
    (work.py:227-252) over the driver's documents table.

    Uses the expression scorer: numerically identical to the
    broadcast-join scorer (tests/test_functions.py asserts it) but a
    pure projection — no explode, no join, no shuffle. The join scorer
    (score_text) remains the rendering of choice when the lexicon is too
    large to inline as a map literal."""
    docs = table(spark, sf_dir, "documents")
    return score_text_expr(docs, "text")


# Shared oracle-SQL fragment: per-doc polarity + sentiment on DuckDB.
# Keep in lock-step with score_text(): same integer sum, same single
# division, no rounding.
SCORED_DOCS_SQL = f"""
WITH {lexicon_values_cte()},
tok AS (
    SELECT doc_id,
           unnest(string_split(lower(regexp_replace(text, '[^a-zA-Z\\s]', '', 'g')), ' ')) AS word
    FROM documents
),
matched AS (
    SELECT t.doc_id,
           CAST(sum(l.score100) AS DOUBLE) / (count(*) * 100) AS pol_raw
    FROM tok t JOIN lexicon l ON t.word = l.word
    WHERE t.word <> ''
    GROUP BY t.doc_id
),
scored AS (
    SELECT d.*, coalesce(m.pol_raw, CAST(0.0 AS DOUBLE)) AS polarity
    FROM documents d LEFT JOIN matched m USING (doc_id)
),
classified AS (
    SELECT *,
           CASE WHEN polarity > 0.1 THEN 'Positive'
                WHEN polarity < -0.1 THEN 'Negative'
                ELSE 'Neutral' END AS sentiment
    FROM scored
)
"""
