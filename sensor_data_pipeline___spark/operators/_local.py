"""JVM-native small local DataFrames.

``spark.createDataFrame(<python list>)`` builds a Python-RDD-backed
plan (``Scan ExistingRDD`` over ``applySchemaToPythonRDD``): every
downstream ACTION re-runs the scan through a Python worker round trip
— measured 1.3-7 s per action in this repo's local sessions, even for
one row. For the driver-side small frames the engine materializes
(index metadata, cached centroid reconstructions, export manifests),
that tax is paid on every save/probe/append, and a "cache" built this
way costs more than the re-read it saves.

:func:`local_df` embeds the rows as COLUMN LITERALS instead —
``arrays_zip`` of per-column array literals, explode via ``inline``,
cast to the declared schema — so the plan is a pure JVM local
relation: no Python worker, no RDD, ~0.1-0.4 s per action. Intended
for BOUNDED driver-side data (metadata, collected aggregates); a big
batch would bloat the plan — keep using readers/createDataFrame for
real data. A batch of data rows that arrives in driver memory (a POST
body, :func:`sources.ingest.lines_df`) goes through
``createDataFrame(<pyarrow.Table>)`` instead: that also plans a JVM
``LocalTableScan``, without putting the rows into the plan as
literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _schema_of(schema: "T.StructType | str") -> T.StructType:
    if isinstance(schema, T.StructType):
        return schema
    parsed = T._parse_datatype_string(schema)
    if not isinstance(parsed, T.StructType):
        raise ValueError(f"not a struct schema: {schema!r}")
    return parsed


def local_df(spark, rows, schema: "T.StructType | str") -> DataFrame:
    """Small local DataFrame as a JVM-side literal plan.

    ``rows``: sequence of tuples/Rows (positional, matching the
    schema's field order). ``schema``: DDL string or StructType; every
    column is cast to its declared type after the literal zip, so
    Python int→int columns and all-``None`` columns land typed."""
    schema = _schema_of(schema)
    if not rows:
        # empty: no literals to zip — project typed nulls over range(0)
        return spark.range(0).select(
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )
    cols = []
    for i, f in enumerate(schema.fields):
        vals = [r[i] for r in rows]
        if all(v is None for v in vals):
            # F.lit infers array<void> here; build typed via cast below
            arr = F.array(
                *[F.lit(None).cast(f.dataType) for _ in vals]
            )
        else:
            arr = F.lit(vals)
        cols.append(arr.alias(f.name))
    zipped = F.arrays_zip(*cols)
    out = spark.range(1).select(F.inline(zipped))
    return out.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )
