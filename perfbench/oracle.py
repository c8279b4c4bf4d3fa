"""Compare a registered query's Spark result with its DuckDB oracle:
row count, sorted column names, and an order-insensitive canonical value
compare, with the repository oracle harness's canonical form."""

from __future__ import annotations

import os

from tests.oracle_harness import _normalize


def compare(spark_pdf, spec, sf_dir: str) -> str | None:
    """None when the query's result (as pandas) equals its oracle's, else
    a description of the first difference. The oracle sees every driver
    table that ``sf_dir`` holds as a view."""
    import duckdb

    from twilio_event_streams_reporting_example_spark import registry
    from twilio_event_streams_reporting_example_spark.sources.tables import TABLES

    sql = registry.resolve_oracle(spec)
    if sql is None:
        return "no oracle registered"
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        duck_pdf = con.sql(sql).df()
    finally:
        con.close()
    s_cols, s_rows = _normalize(spark_pdf)
    d_cols, d_rows = _normalize(duck_pdf)
    if s_cols != d_cols:
        return f"columns {s_cols} vs {d_cols}"
    if len(s_rows) != len(d_rows):
        return f"row count {len(s_rows)} vs {len(d_rows)}"
    for a, b in zip(s_rows, d_rows):
        if a != b:
            return f"first differing row {a} vs {b}"
    return None
