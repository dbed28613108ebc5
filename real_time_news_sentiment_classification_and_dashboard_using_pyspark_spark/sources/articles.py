"""News-article source/sink surface (SURVEY §2.A).

Schema is the reference's explicit 9-field streaming StructType
(streaming_pipeline.py:33-43) *plus* the nested ``source`` publisher
struct the reference drops on every projection (news_data.json carries
it; SURVEY §1.2-§1.3) — we keep it, as nested data is queryable in
Spark for free.

Readers are PERMISSIVE/DROPMALFORMED over NDJSON, matching the
reference's silently-skip-bad-lines loop (work.py:119-125, A3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

PUBLISHER_STRUCT = StructType(
    [
        StructField("id", StringType(), True),
        StructField("name", StringType(), True),
        StructField("url", StringType(), True),
        StructField("country", StringType(), True),
    ]
)

# reference: streaming_pipeline.py:33-43 (9 string fields), + nested source
ARTICLE_SCHEMA = StructType(
    [
        StructField("id", StringType(), True),
        StructField("title", StringType(), True),
        StructField("description", StringType(), True),
        StructField("content", StringType(), True),
        StructField("url", StringType(), True),
        StructField("image", StringType(), True),
        StructField("publishedAt", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("source", PUBLISHER_STRUCT, True),
        StructField("fetched_at", StringType(), True),
    ]
)

# B3 repair set (streamlit_app.py:120-126) + ``id`` which the streaming
# projection keeps (streaming_pipeline.py:114-121)
REQUIRED_COLUMNS = ["id", "title", "description", "url", "publishedAt", "fetched_at"]


def read_articles(spark: SparkSession, path: str, drop_malformed: bool = True) -> DataFrame:
    """Batch NDJSON scan with explicit schema (A3/A4). DROPMALFORMED
    reproduces the reference's skip-unparseable-lines behavior."""
    reader = spark.read.schema(ARTICLE_SCHEMA)
    if drop_malformed:
        reader = reader.option("mode", "DROPMALFORMED")
    return reader.json(path)


def stream_articles(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming file source watching a directory for NDJSON batches
    (A5: streaming_pipeline.py:107-110) — explicit schema, never
    inferred."""
    return (
        spark.readStream.schema(ARTICLE_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .json(input_dir)
    )


# Above this many dirty files, read_articles_mixed abandons the
# driver-side path list and re-parses the dirty set fully distributed.
DIRTY_COLLECT_CAP = 1000


def read_articles_mixed(
    spark: SparkSession, path: str, dirty_collect_cap: int = DIRTY_COLLECT_CAP
) -> DataFrame:
    """Mixed-format directory scan (A12): per file, NDJSON if every line
    parses, else whole-file JSON — object or array — else skip the
    file. Reference: streamlit_app.py:101-109 (pd.read_json
    lines=True, fallback json.load, ``except: continue``).

    Spark-first shape: ONE permissive NDJSON scan classifies every file
    (corrupt-line count per input_file_name); clean files keep their
    rows from that same scan via a broadcast SEMI-JOIN against the
    clean-file aggregate — never an ``isin(file_list)`` literal, whose
    expression tree and driver memory grow with the file count.

    The dirty files need a second parse as whole-file JSON. Two shapes,
    both bounded on the driver:

    - dirty count <= ``dirty_collect_cap`` (the by-construction common
      case — dirty files are the exception): collect the short path
      list and re-read with a multiLine DROPMALFORMED scan, which only
      touches those files.
    - dirty count above the cap (dirty-majority directory): NO path
      collect. A ``wholetext`` scan of the directory is semi-joined to
      the dirty-file aggregate and parsed with ``from_json`` against
      ``array<article>`` — Spark's JacksonParser accepts a bare object
      as a 1-element array and yields NULL for unparseable text, so
      filter-null + explode reproduces object/array-or-skip semantics
      entirely on executors. Driver memory stays O(1) in the file
      count."""
    schema_c = StructType(ARTICLE_SCHEMA.fields + [StructField("_corrupt_record", StringType(), True)])
    raw = (
        spark.read.schema(schema_c)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .withColumn("_file", F.input_file_name())
        # cache: (a) Spark forbids queries touching ONLY _corrupt_record
        # on a raw scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — caching
        # materializes the full parse; (b) the classifier agg and the
        # clean-file rows then share one parse pass
        .cache()
    )
    per_file = raw.groupBy("_file").agg(
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)).alias("bad")
    )
    clean_files = per_file.filter(F.col("bad") == 0).select("_file")
    out = raw.join(F.broadcast(clean_files), "_file", "left_semi").drop(
        "_corrupt_record", "_file"
    )
    dirty_files = per_file.filter(F.col("bad") > 0).select("_file")
    # Bounded probe: limit(cap+1).count() never materializes more than
    # cap+1 rows driver-side, whatever the dirty population is.
    n_dirty = dirty_files.limit(dirty_collect_cap + 1).count()
    if 0 < n_dirty <= dirty_collect_cap:
        dirty = [r["_file"] for r in dirty_files.collect()]
        out = out.unionByName(
            spark.read.schema(ARTICLE_SCHEMA)
            .option("multiLine", True)
            .option("mode", "DROPMALFORMED")
            .json(dirty)
        )
    elif n_dirty > dirty_collect_cap:
        from pyspark.sql.types import ArrayType

        # Cost trade (ADVICE r6): this wholetext scan re-reads the WHOLE
        # directory — clean files included — as one row per file before
        # the semi-join discards the clean ones. Driver memory stays
        # O(1), but each executor task holds O(largest file) and the
        # clean files' bytes are read a second time. Acceptable because
        # the dirty-MAJORITY branch is by construction rare (normal runs
        # take the bounded-collect branch above); deployments where
        # dirty files share a naming convention should restrict the scan
        # with spark.read.option("pathGlobFilter", ...) instead.
        whole = (
            # NB: must be the .text() kwarg — DataFrameReader.text()
            # overwrites a prior .option("wholetext", ...) with its default
            spark.read.text(path, wholetext=True)
            .withColumn("_file", F.input_file_name())
            # dirty-majority ⇒ the dirty set is large; no broadcast
            # hint — AQE picks the strategy from runtime stats
            .join(dirty_files, "_file", "left_semi")
        )
        parsed = (
            whole.select(F.from_json("value", ArrayType(ARTICLE_SCHEMA)).alias("recs"))
            .filter(F.col("recs").isNotNull())
            .select(F.explode("recs").alias("r"))
            .filter(F.col("r").isNotNull())
            .select("r.*")
        )
        out = out.unionByName(parsed)
    return out


def read_articles_quarantine(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE scan splitting good rows from a QUARANTINE of
    unparseable lines — the production upgrade over DROPMALFORMED's
    silent discard: bad input is preserved (raw line + source file) for
    replay/debugging instead of vanishing. Returns ``(good, quarantine)``
    built from ONE parse pass (cached); the quarantine carries the
    verbatim line so a fixed parser can re-ingest it later. At scale the
    quarantine is a tiny side output written next to the sink — the
    ingest-completeness audit ("we dropped 0.3% and here they are") the
    reference cannot answer."""
    schema_c = StructType(
        ARTICLE_SCHEMA.fields + [StructField("_corrupt_record", StringType(), True)]
    )
    raw = (
        spark.read.schema(schema_c)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .withColumn("_file", F.input_file_name())
        .cache()  # one parse pass feeds both splits (and dodges
        # QUERY_ONLY_CORRUPT_RECORD_COLUMN on the quarantine side)
    )
    good = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record", "_file")
    quarantine = raw.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line"),
        F.col("_file").alias("source_file"),
    )
    return good, quarantine


def repair_schema(df: DataFrame) -> DataFrame:
    """Schema-repair projection (B3: work.py:135-138,
    streamlit_app.py:120-126): force required columns into existence as
    nulls, alias text <- description."""
    out = df
    for c in REQUIRED_COLUMNS:
        if c not in out.columns:
            out = out.withColumn(c, F.lit(None).cast("string"))
    if "text" not in out.columns:
        out = out.withColumn("text", F.col("description"))
    return out
