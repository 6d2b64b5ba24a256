"""Arrow-backed local relations.

``spark.createDataFrame(list_of_rows)`` parallelizes the pickled rows
into a Python-backed RDD: every JOB that evaluates the relation
re-runs the pickle→Row conversion through Python worker processes.
Measured in this environment that costs ~2-6 s per job even for a
16-row table — and inline literal dims (species keys, correction
tables, collected vessel histories, IVF centroids) sit under
broadcast branches that many queries evaluate several times.

Routing the same rows through a ``pyarrow.Table`` instead produces a
JVM-side LocalRelation: ~0.2 s, no Python workers at execution, and
Catalyst can constant-fold/broadcast it like any other local table.
Schema and values are preserved exactly (pinned by
tests/test_sinks_sources.py::test_local_df_parity).

This mirrors what the reference gets for free from shipping literal
tables into the database (reference R/initdb.R:63-69 species key and
the correction tables): the literal relation lives engine-side, not
client-side.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _as_struct(schema: "str | T.StructType") -> T.StructType:
    if isinstance(schema, T.StructType):
        return schema
    parsed = T._parse_datatype_string(schema)
    if not isinstance(parsed, T.StructType):
        raise TypeError(f"schema must describe a struct, got {parsed}")
    return parsed


def local_df(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: "str | T.StructType",
) -> DataFrame:
    """Create a DataFrame from driver-local rows as a JVM
    LocalRelation (via pyarrow) instead of a Python-backed RDD.

    Falls back to plain ``createDataFrame`` in two cases only: rows
    pyarrow refuses to convert (e.g. list-encoded structs), and an
    arrow frame whose schema drifted from the declared one. Any other
    error, including one from creating the arrow-backed frame,
    propagates.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = _as_struct(schema)
    rows = list(rows)
    pa_schema = to_arrow_schema(struct)
    if rows:
        cols = list(zip(*rows))
        if len(cols) != len(pa_schema):
            raise ValueError(
                f"rows have {len(cols)} columns, schema has {len(pa_schema)}"
            )
    else:
        cols = [[] for _ in pa_schema]
    try:
        arrays = [pa.array(list(c), type=f.type) for c, f in zip(cols, pa_schema)]
    except (pa.ArrowInvalid, pa.ArrowTypeError):
        return spark.createDataFrame(rows, struct)
    df = spark.createDataFrame(pa.Table.from_arrays(arrays, schema=pa_schema))
    # arrow round-trips some types loosely (e.g. large_string); the
    # caller-declared names/types are guaranteed by re-creating through
    # the Python path. Local relations come back all-nullable, which
    # is fine for a literal dim — compare modulo nullability.
    want = [(f.name, f.dataType) for f in struct.fields]
    if [(f.name, f.dataType) for f in df.schema.fields] != want:
        return spark.createDataFrame(rows, struct)
    return df
