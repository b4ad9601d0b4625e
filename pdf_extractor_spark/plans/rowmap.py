"""The engine↔Python boundary for per-row work, written once.

Every stage whose output rows each depend on ONE input row — synthesise
a payload, run a codec or parser on it, emit zero or more typed rows —
goes through :func:`map_rows`: one ``mapInPandas`` stage, one Python hop
per Arrow batch, never per row. The caller supplies only the per-row
function and the DDL output schema; the batch loop, the column names
and the frame construction live here.

Stages that need more than one row at a time (archives built from a
whole batch, memos kept across rows, column-vectorised bodies) keep
their own ``mapInPandas`` body.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str
) -> DataFrame:
    """Run ``fn`` over every row of ``df`` in one ``mapInPandas`` stage.

    ``fn(*row)`` receives one input row's values in ``df.columns``
    order and yields zero or more output tuples in ``schema`` order.
    Column names are parsed from the DDL ``schema`` once, when the
    stage is built."""
    names = _parse_datatype_string(schema).names

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                out
                for row in pdf.itertuples(index=False, name=None)
                for out in fn(*row)
            ]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(body, schema)


def spread(docs: DataFrame, num_partitions: int | None) -> DataFrame:
    """Hash-repartition ``(doc_id, text)`` by doc id before the Arrow
    stage — a small parquet table arrives as ONE input split, which
    would serialize the whole stage onto one task. Same layout rule as
    the production pipeline's url-hash repartition (plans/pipeline.py)."""
    n = num_partitions or docs.sparkSession.sparkContext.defaultParallelism
    return docs.select("doc_id", "text").repartition(n, F.col("doc_id"))
