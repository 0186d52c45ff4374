"""The Arrow boundary of every pipeline UDF: each crosses into Python with
``mapInArrow``, so no pipeline module converts through pandas.
``arrow_schema`` is the one DDL → Arrow schema conversion and ``map_rows``
the one batch loop of the standalone stage functions."""

from __future__ import annotations

import datetime
import functools
from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
_MICRO = datetime.timedelta(microseconds=1)


@functools.cache
def arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow schema of rows of the DDL string ``ddl``, as Spark
    exchanges them with a Python UDF (timestamps as UTC micros). Parsing
    is a JVM call, made on the driver once per string."""
    return to_arrow_schema(StructType.fromDDL(ddl))


def map_rows(df: DataFrame, ddl: str,
             task_rows: Callable[[], Callable[..., list[dict]]]
             ) -> DataFrame:
    """``df`` → rows of ``ddl`` in one mapInArrow pass.

    ``task_rows()`` runs once per task and returns the row function: it
    takes one input row's values, in ``df``'s column order, and returns
    that row's output rows as dicts keyed by ``ddl``'s columns. Values
    arrive as Python objects; a timestamp is an aware datetime in the
    session time zone, and leaves as its epoch micros: with
    PYARROW_IGNORE_TIMEZONE set (pyspark.pandas sets it) pyarrow would
    store an aware datetime's wall time as UTC."""
    schema = arrow_schema(ddl)
    stamps = [f.name for f in schema if pa.types.is_timestamp(f.type)]

    def batches(it):
        rows_of = task_rows()
        for batch in it:
            values = zip(*(c.to_pylist() for c in batch.columns))
            rows = [r for row in values for r in rows_of(*row)]
            for r in rows:
                for c in stamps:
                    if r[c] is not None:
                        r[c] = (r[c] - _EPOCH) // _MICRO
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return df.mapInArrow(batches, schema=ddl)


__all__ = ["arrow_schema", "map_rows"]
