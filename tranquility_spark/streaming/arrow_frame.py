"""Python event dicts → one Arrow-built Spark DataFrame.

``spark.createDataFrame(list_of_dicts)`` pickles the rows into a Python RDD:
every later job over that frame starts Python workers to unpickle it again.
``events_frame`` keeps the schema that call infers (the session's own
inference, ``SparkSession._inferSchemaFromList``), converts the values to
one Arrow record batch on the driver and hands it to the JVM as a local
relation. Projections and filters over a local relation are folded into it
by the optimizer and collected on the driver without a Spark job.

The value conversions give the rows the pickled build gives:

- ``bigint``: an int outside the 64-bit range becomes NULL;
- ``decimal(p, s)``: rounded half-up to the scale; NaN becomes NULL; a value
  with more than ``p`` digits after rounding raises;
- ``string`` (a field that is sometimes a string and sometimes not): a bool
  becomes ``true``/``false``, anything else its ``str``;
- ``timestamp``: an aware datetime keeps its instant, a naive one is read in
  the driver's local time zone (``time.mktime``, as ``TimestampType`` does);
- ``map``: a dict becomes Arrow's list of key/value pairs.
"""

from __future__ import annotations

import datetime as _dt
import decimal
from typing import Any, Callable, Optional, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.serializers import ArrowStreamSerializer
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DecimalType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_LONG_MIN, _LONG_MAX = -(2**63), 2**63 - 1

Converter = Callable[[Any], Any]


def _identity(v: Any) -> Any:
    return v


def _string(v: Any) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _converter(dtype: DataType) -> Optional[Converter]:
    """Non-None value → its Arrow-ready form; None when no change is needed."""
    if isinstance(dtype, LongType):
        return lambda v: v if _LONG_MIN <= v <= _LONG_MAX else None
    if isinstance(dtype, DecimalType):
        quantum = decimal.Decimal(1).scaleb(-dtype.scale)
        ctx = decimal.Context(prec=dtype.precision, rounding=decimal.ROUND_HALF_UP)
        return lambda v: None if v.is_nan() else v.quantize(quantum, context=ctx)
    if isinstance(dtype, StringType):
        return _string
    if isinstance(dtype, TimestampType):
        return lambda v: v.astimezone(_dt.timezone.utc)
    if isinstance(dtype, ArrayType):
        elem = _nullable(_converter(dtype.elementType))
        return None if elem is None else (lambda v: [elem(x) for x in v])
    if isinstance(dtype, MapType):
        key = _nullable(_converter(dtype.keyType)) or _identity
        val = _nullable(_converter(dtype.valueType)) or _identity
        return lambda v: [(key(k), val(x)) for k, x in v.items()]
    if isinstance(dtype, StructType):  # spark.sql.pyspark.inferNestedDictAsStruct
        fields = [(f.name, _nullable(_converter(f.dataType)) or _identity)
                  for f in dtype.fields]
        return lambda v: {n: conv(v.get(n)) for n, conv in fields}
    return None


def _nullable(conv: Optional[Converter]) -> Optional[Converter]:
    return None if conv is None else (lambda v: None if v is None else conv(v))


def events_frame(spark: SparkSession, events: Sequence[dict], index_col: str) -> DataFrame:
    """One local-relation DataFrame with the schema and rows of
    ``spark.createDataFrame(events)``, plus ``index_col`` (each event's
    position in ``events``, ``bigint``) as the last column."""
    schema = spark._inferSchemaFromList(events)
    arrays = []
    for f in schema.fields:
        conv = _nullable(_converter(f.dataType))
        col = [e.get(f.name) for e in events]
        arrays.append(pa.array(col if conv is None else [conv(v) for v in col],
                               type=to_arrow_type(f.dataType)))
    schema = StructType([*schema.fields, StructField(index_col, LongType(), False)])
    arrays.append(pa.array(range(len(events)), type=pa.int64()))
    batch = pa.RecordBatch.from_arrays(arrays, names=schema.names)
    # The JVM half of createDataFrame(pyarrow.Table, schema). The public call
    # first rebuilds nested Arrow arrays to localize timestamps (ours are
    # already UTC microseconds), and under pyarrow < 17 that rebuild drops
    # the null mask of a map with nested values (SPARK-48302): a missing
    # nested dict would arrive as an empty map instead of NULL.
    jvm, sc = spark._jvm, spark.sparkContext
    jbatches = sc._serialize_to_jvm(
        [batch], ArrowStreamSerializer(),
        jvm.PythonSQLUtils.readArrowStreamFromFile, jvm.ArrowIteratorServer,
    )
    jdf = jvm.PythonSQLUtils.toDataFrame(jbatches, schema.json(), spark._jsparkSession)
    return DataFrame(jdf, spark)
