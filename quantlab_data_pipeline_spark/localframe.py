"""Driver-side literal DataFrames without a Python-RDD scan.

``spark.createDataFrame(list_of_tuples, schema)`` plans a Python RDD:
every action on the frame (and every write) runs its partitions
through a Python worker task. Measured in this environment, a ONE-ROW
ledger write through that path costs ~4 s of wall per action at ~60 ms
of CPU — pure Python-worker round-trip overhead — and the intake sinks
pay it up to ten times per micro-batch (ledger marks, store meta,
probe-id frames). The pandas/Arrow path
(``createDataFrame(pandas.DataFrame, schema)``) converts driver-side
into Arrow batches and plans a JVM-only scan: the same write measures
~0.1-0.4 s (scripts/job_breakdown.py, round 10).

:func:`local_df` is the drop-in: same rows, same DDL schema string,
Arrow conversion instead of the Python RDD. Scalar and array columns
only (everything the library's literal frames use); richer nested rows
(struct columns) should keep the plain ``createDataFrame``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

__all__ = ["local_df"]


def _ddl_names(schema: str) -> list[str]:
    """Column names from a flat DDL string ("a long, b string" -> [a, b]).

    Only supports the flat scalar/array DDL the library's literal
    frames use — a comma inside any ``<...>`` group (struct fields,
    map key/value types) would split wrong, so it is rejected.
    """
    depth = 0
    for ch in schema:
        depth += (ch == "<") - (ch == ">")
        if ch == "," and depth > 0:
            raise ValueError(
                f"local_df supports flat DDL schemas only, got {schema!r}"
            )
    return [part.strip().split()[0] for part in schema.split(",")]


def local_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` through the Arrow path.

    ``rows``: list of tuples (may be empty); ``schema``: flat DDL
    string. Returns a frame with exactly the requested schema, planned
    as a JVM local scan — no Python task on any downstream action.
    """
    import pandas as pd

    names = _ddl_names(schema)
    pdf = pd.DataFrame.from_records(list(rows), columns=names)
    return spark.createDataFrame(pdf, schema=schema)
