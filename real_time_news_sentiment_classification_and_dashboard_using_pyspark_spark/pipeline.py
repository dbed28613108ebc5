"""Batch news-sentiment pipeline — the reference's end-to-end DAG
(work.py:107-207 pandas / work.py:212-280 dormant Spark) as one
distributed plan.

Stage mapping (SURVEY §2/§3.1):
  project B1 -> clean F1 -> filter B4 -> concat F4 -> score K1 ->
  classify F2 -> confidence F3 -> final projection B2 ->
  CSV A10 + NDJSON A11 sinks -> summary G2+F10.

Differences from the reference, on purpose:
- clean, filter, combine and score run as one Arrow batch kernel
  (``_score_articles_kernel``), not a row-at-a-time Python UDF; the
  default scorer is the exact-integer lexicon of
  ``functions.sentiment``, bit-identical to ``polarity_expr``;
- writes are distributed ``df.write`` (the reference collects everything
  to the driver first, work.py:261 — its scalability cliff);
- the same ``transform_articles`` runs unchanged under Structured
  Streaming (streaming/pipeline.py) — one logical plan, two runtimes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.sentiment import LEXICON, classify_expr, confidence_expr
from .sources.articles import read_articles, repair_schema

FINAL_COLUMNS = [
    "id",
    "title",
    "description",
    "url",
    "polarity",
    "sentiment",
    "sentiment_confidence",
    "publishedAt",
    "fetched_at",
]


# Java \s == [ \t\n\x0B\f\r]; RE2 \s omits \x0B, so the kernel spells
# the class out explicitly to keep clean-text semantics bit-identical.
_CLEAN_RE2 = "[^a-zA-Z \t\n\x0B\f\r]"


def lexicon_polarity(combined):
    """Kernel scorer: exact-integer lexicon polarity of each combined
    text (``pa.Array`` of strings -> float64 numpy array).

    A token equals a lexicon word exactly when ' word ' occurs in the
    space-DOUBLED padded text (doubling gives adjacent tokens their own
    delimiters, so non-overlapping count_substring is exact; lexicon
    words are alphabetic, and clean keeps non-space whitespace INSIDE
    tokens exactly like the split-on-space tokenizer). Counts x
    centipoint scores give the same exact int64 sum and count as
    ``polarity_expr``'s fold, then the identical single IEEE division;
    no match lands on 0.0."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    doubled = pc.replace_substring(combined, " ", "  ")
    padded = pc.binary_join_element_wise(pa.scalar(" "), doubled, pa.scalar(" "), "")
    n = np.zeros(len(combined), dtype=np.int64)
    s = np.zeros(len(combined), dtype=np.int64)
    for w, sc in LEXICON:
        c = pc.count_substring(padded, f" {w} ").to_numpy(zero_copy_only=False)
        c = np.asarray(c, dtype=np.int64)
        n += c
        s += c * sc
    return np.where(n > 0, s.astype("float64") / (n * 100), 0.0)


def _score_articles_kernel(scorer):
    """mapInPandas kernel: clean -> filter -> combine -> ``scorer``, all
    Arrow/C++ per batch (guide §4.2) — the per-article hot path of the
    streaming drain.

    Bit-equality with the column-expression rendering
    (``functions.text.clean_text``, ``concat_ws``), piece by piece:
    - clean: RE2 strip of the same explicit char class (`_CLEAN_RE2` —
      Java's \\s spelled out because RE2's omits \\x0B), then
      utf8_lower — the post-strip alphabet is pure ASCII, where simple
      and full case mapping coincide.
    - filter: text_clean non-null AND utf8_trim(' ') != '' — Spark's
      `trim` strips spaces only.
    - combined: binary_join_element_wise(title_clean, text_clean, ' ',
      skip-nulls) == concat_ws(' ', ...).
    Pinned by tests/test_batch_pipeline.py (kernel vs expression path
    over the fixture corpus) and the streaming golden tests."""

    def fn(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for pdf in batches:
            if pdf.empty:
                continue
            # explicit string type: an all-null pandas column would
            # otherwise arrive as Arrow's null type, which the string
            # kernels reject
            title = pa.Array.from_pandas(pdf["title"], type=pa.string())
            desc = pa.Array.from_pandas(pdf["description"], type=pa.string())
            tc = pc.utf8_lower(pc.replace_substring_regex(title, _CLEAN_RE2, ""))
            xc = pc.utf8_lower(pc.replace_substring_regex(desc, _CLEAN_RE2, ""))
            # never null: is_valid is false exactly where not_equal
            # would be null, and Kleene AND short-circuits it to false
            keep = pc.and_kleene(
                pc.is_valid(xc), pc.not_equal(pc.utf8_trim(xc, " "), "")
            )
            keep_np = keep.to_numpy(zero_copy_only=False).astype(bool)
            if not keep_np.any():
                continue
            pdf = pdf[keep_np]
            tc = pc.filter(tc, keep)
            xc = pc.filter(xc, keep)
            combined = pc.binary_join_element_wise(
                tc, xc, " ", null_handling="skip"
            )
            yield pdf.assign(polarity=scorer(combined))

    return fn


def transform_articles(df: DataFrame, polarity_fn=lexicon_polarity) -> DataFrame:
    """Project -> clean -> filter -> concat -> score -> classify ->
    confidence -> final projection. Pure narrow transformations: works
    identically on a batch or streaming DataFrame, no shuffle at all.

    Semantics pinned to the reference:
    - clean = lower(regexp_replace(col, "[^a-zA-Z\\s]", "")) on title
      and description (work.py:230-235);
    - rows whose cleaned description is null/empty are dropped BEFORE
      scoring (work.py:238 places the filter before the UDF; trim for
      the pandas-path parity, work.py:147);
    - combined = concat_ws(" ", title_clean, text_clean)
      (work.py:245-248);
    - classify thresholds +-0.1 exclusive, null -> Neutral
      (work.py:96-105); confidence 0.5/0.2 (streaming_pipeline.py:146-151).

    ``polarity_fn`` swaps the scorer: a function from the combined
    ``pa.Array`` of strings to float64 polarities, run inside
    ``_score_articles_kernel``. The default is ``lexicon_polarity``;
    ``functions.pattern_parity.pattern_polarity_arrow`` gives TextBlob
    golden parity (tests/test_textblob_parity.py).
    """
    scored0 = (
        repair_schema(df)
        .select("id", "title", "description", "url", "publishedAt", "fetched_at")
        .mapInPandas(
            _score_articles_kernel(polarity_fn),
            "id string, title string, description string, url string, "
            "publishedAt string, fetched_at string, polarity double",
        )
    )
    scored = (
        scored0.withColumn("sentiment", classify_expr("polarity"))
        .withColumn("sentiment_confidence", confidence_expr("polarity"))
        .withColumn("processing_time", F.current_timestamp())
    )
    return scored.select(*FINAL_COLUMNS, "processing_time")


def sentiment_summary(scored: DataFrame) -> DataFrame:
    """Class counts + percentage of total (work.py:285-304)."""
    agg = scored.groupBy("sentiment").agg(F.count(F.lit(1)).alias("cnt"))
    total = F.sum("cnt").over(Window.partitionBy())
    return agg.withColumn(
        "pct", F.round(100.0 * F.col("cnt") / total.cast("double"), 4)
    )


def run_batch_pipeline(
    spark: SparkSession, input_path: str, output_dir: str
) -> DataFrame:
    """Read NDJSON articles -> transform -> write CSV + NDJSON sinks ->
    return the scored DataFrame. Distributed writes; CSV matches the
    reference's dashboard contract columns (A10/A11)."""
    raw = read_articles(spark, input_path)
    scored = transform_articles(raw).drop("processing_time")
    scored.write.mode("overwrite").option("header", True).csv(
        f"{output_dir}/sentiment_results_csv"
    )
    scored.write.mode("overwrite").json(f"{output_dir}/consolidated_json")
    return scored
