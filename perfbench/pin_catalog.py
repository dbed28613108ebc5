"""Re-pin the catalog workload's expected results.

    python3 perfbench/pin_catalog.py

For every query in ``worker.CATALOG_SAMPLE`` this runs the registry's
DuckDB oracle SQL over ``perfbench/data/sf0.01`` and writes the result
fingerprint to ``perfbench/catalog_pins.json``. It also runs the Spark
side once and refuses to pin a query whose Spark result does not match
its oracle, so a pin is always an oracle result the program reproduces.
Needs ``duckdb``; the benchmark itself does not.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import duckdb  # noqa: E402

from inputs import DATA_DIR  # noqa: E402
from worker import CATALOG_SAMPLE, PINS_PATH, _fingerprint  # noqa: E402


def main() -> int:
    os.environ.setdefault("PYTHONPATH", ROOT)
    from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark import get_spark
    from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.plans import REGISTRY
    from real_time_news_sentiment_classification_and_dashboard_using_pyspark_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA_DIR}/{t}.parquet')")
    spark = get_spark("pin-catalog")
    spark.sparkContext.setLogLevel("ERROR")
    pins, bad = {}, []
    for name in CATALOG_SAMPLE:
        q = REGISTRY[name]
        sql = q.oracle(DATA_DIR) if callable(q.oracle) else q.oracle
        res = con.execute(sql)
        oracle = _fingerprint([d[0] for d in res.description], res.fetchall())
        df = q.fn(spark, DATA_DIR)
        got = _fingerprint(df.columns, [tuple(r) for r in df.collect()])
        print(f"{name}: oracle {oracle} spark {got}")
        if got == oracle:
            pins[name] = oracle
        else:
            bad.append(name)
    spark.stop()
    with open(PINS_PATH, "w", encoding="utf-8") as fh:
        json.dump({"data": "perfbench/data/sf0.01", "queries": pins}, fh, indent=2, sort_keys=True)
        fh.write("\n")
    if bad:
        print("not pinned (Spark differs from the oracle): " + ", ".join(bad), file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
