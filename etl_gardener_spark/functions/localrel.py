"""Driver-local relations, in both directions.

``local_df`` turns a driver-side row list (fitted centroids, codebooks,
seeds, report rows) into a relation. The rows are converted to one
``pyarrow.Table`` with the Spark schema, and ``createDataFrame`` plans
that table as a ``LocalTableScan``: a scan, collect or broadcast of it
runs no Spark job, however many times a plan reads it. Arrow keeps a
NULL apart from a NaN (in a double, in the elements of an array and in
struct fields); the pandas path would fold NaN into NULL, which the
differential oracles can see. The row conversion is pyspark's own
(``LocalDataToArrowConversion``, the Spark Connect path), so tuples,
``Row`` objects, dicts, nested structs, maps and naive datetimes mean
what they mean to ``createDataFrame(list)``.

``collect_bounded`` goes the other way: it reads at most ``n`` rows of a
relation to the driver and refuses a relation that holds more. The limit
runs on the executors (``toArrow`` of ``limit(n + 1)``: each partition
keeps its first rows and one task takes the limit from them), so the
driver receives at most ``n + 1`` rows however the relation is
partitioned. ``limit(n + 1).collect()`` takes the limit on the driver
and can ship up to ``n + 1`` rows from every partition it scans. A
relation that already is a ``LocalTableScan`` is on the driver; it is
collected directly, without a Spark job.

Both are scale-correct, not small-SF hacks: these relations are
O(k)/O(model) rows by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` as a zero-job local
    relation — use for every driver-local row list that feeds a plan.
    ``schema`` is a ``StructType``, a DDL string, or column names whose
    types are inferred from the rows as ``createDataFrame`` infers them."""
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    rows = rows if isinstance(rows, list) else list(rows)
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    elif not isinstance(schema, StructType):
        schema = spark._inferSchemaFromList(rows, names=schema)
    table = (
        LocalDataToArrowConversion.convert(rows, schema, False)
        if rows
        else to_arrow_schema(schema).empty_table()
    )
    return spark.createDataFrame(table, schema)


class TooManyRows(ValueError):
    """A relation read with ``collect_bounded`` holds more rows than its
    bound."""


def collect_bounded(df: DataFrame, n: int, what: str) -> list[tuple]:
    """Every row of ``df`` as a tuple of Python values when it holds at
    most ``n`` rows; raises ``TooManyRows`` (naming ``what``) otherwise.
    NULL stays None and NaN stays NaN in both paths."""
    limited = df.limit(n + 1)
    if limited._jdf.queryExecution().executedPlan().nodeName() == "LocalTableScan":
        rows = [tuple(r) for r in limited.collect()]
    else:
        table = limited.toArrow()
        rows = list(zip(*(c.to_pylist() for c in table.columns)))
    if len(rows) > n:
        raise TooManyRows(
            f"{what}: more than {n} rows; refusing to read it to the driver"
        )
    return rows
