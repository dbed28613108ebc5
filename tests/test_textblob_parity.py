"""Golden parity vs the reference's committed TextBlob output
(SURVEY §5.2(2)): drive the reference's own raw input
(``news_data.json``) through the ENGINE batch pipeline with the
pattern-parity scorer and assert bit-for-bit equality with
``sentiment_output/sentiment_results.csv`` (work.py:87-94's
TextBlob(text).sentiment.polarity). This is the first diff anyone
migrating from the reference will run.
"""

from __future__ import annotations

import csv
import re
from pathlib import Path

import pytest

from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.functions.pattern_parity import (
    pattern_polarity,
    pattern_polarity_arrow,
)
from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.pipeline import (
    transform_articles,
)
from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.sources.articles import (
    read_articles,
)

REF = Path("/root/reference")
GOLDEN = REF / "sentiment_output" / "sentiment_results.csv"


@pytest.mark.skipif(not GOLDEN.exists(), reason="reference golden CSV not present")
def test_engine_reproduces_reference_golden_csv(spark):
    golden = list(csv.DictReader(open(GOLDEN)))
    assert len(golden) == 10

    raw = read_articles(spark, str(REF / "news_data.json"))
    out = transform_articles(raw, polarity_fn=pattern_polarity_arrow)
    got = {
        (r["title"], r["url"]): (r["polarity"], r["sentiment"])
        for r in out.collect()
    }
    assert len(got) == 10  # no row dropped, no duplicates collapsed

    for g in golden:
        pol, sent = got[(g["title"], g["url"])]
        # float-exact: repr(engine double) must equal the CSV literal the
        # reference committed (pandas wrote repr(float) there)
        assert repr(pol) == g["polarity"], (g["title"], repr(pol), g["polarity"])
        assert sent == g["sentiment"], (g["title"], sent, g["sentiment"])


def _clean(s):
    # the reference's clean (work.py:230-235), in Python; the rows below
    # are ASCII, where Python's and Java's \s agree
    return None if s is None else re.sub(r"[^a-zA-Z\s]", "", s).lower()


def test_engine_pattern_scorer_matches_python_reference(spark):
    """The pattern-parity scorer inside transform_articles reproduces
    ``pattern_polarity`` over text cleaned and combined in Python:
    negation, intensifier chains, punctuation, a null title, and a row
    dropped for an empty cleaned description."""
    rows = [
        ("p1", "Very GOOD news!", "Markets are not bad, past the trouble."),
        ("p2", None, "A new, top outperform: not very great."),
        ("p3", "Wild day", "Dramatic and bearish; more potential ahead?"),
        ("p4", "plain title", "nothing here matches 123"),
        ("p5", "new", "!!! 42"),
    ]
    raw = spark.createDataFrame(
        [
            (i, t, d, f"http://x/{i}", "2025-11-21T20:06:38Z", "2025-11-22T13:52:00")
            for i, t, d in rows
        ],
        "id string, title string, description string, url string, "
        "publishedAt string, fetched_at string",
    )
    got = {
        r["id"]: r["polarity"]
        for r in transform_articles(raw, polarity_fn=pattern_polarity_arrow).collect()
    }
    expected = {}
    for i, t, d in rows:
        text = _clean(d)
        if text is None or not text.strip(" "):
            continue
        combined = " ".join(c for c in (_clean(t), text) if c is not None)
        expected[i] = pattern_polarity(combined)
    assert set(expected) == {"p1", "p2", "p3", "p4"}
    assert got == expected
    assert len(set(got.values())) == 4  # the rows exercise distinct paths


# unit coverage of the pattern rules the golden rows don't exercise
def test_negation_halves_and_flips():
    assert pattern_polarity("not good") == 0.7 * -0.5


def test_intensifier_chains_and_clamps():
    assert pattern_polarity("very good") == max(-1.0, min(0.7 * 1.3, 1.0))
    assert pattern_polarity("very great") == 1.0  # 0.8 * 1.3 clamps to 1


def test_negated_intensifier_dampens():
    # pattern: "not very X" divides by the intensity instead of multiplying
    assert pattern_polarity("not very good") == 0.7 * -0.5 / 1.3


def test_negation_expires_after_real_word():
    # "not" followed by a non-lexicon word (> 1 char) stops negating;
    # a 1-char filler keeps it alive (pattern's len(w) > 1 rule)
    assert pattern_polarity("not stockmarket good") == 0.7
    assert pattern_polarity("not a good") == 0.7 * -0.5


def test_empty_and_unmatched_default_zero():
    assert pattern_polarity("") == 0.0
    assert pattern_polarity(None) == 0.0
    assert pattern_polarity("xyzzy plugh") == 0.0
