"""A small query result held in the driver, typed as a Spark DataFrame.

The driver-resident scorer (operators/wand.py ``ResidentIndex``) ranks a
query in about a millisecond; wrapping its top k as a Spark DataFrame
(``createDataFrame`` of a pandas frame) and collecting it back through
the JVM took about 25 ms more. ``HeldFrame`` keeps the result columns in
the driver instead and answers the calls a caller makes to read them —
``collect``, ``toPandas``, ``toArrow``, ``count``, ``schema``,
``columns`` — in Python, with the same values and types Spark returns
for the same frame: ``Row``s with the schema's field names and Python
``int``/``float`` values, the schema's pandas dtypes and Arrow types.

Every other DataFrame method (``select``, ``join``, ``F.broadcast``,
``explain``, ...) reaches the JVM through ``_jdf``, which is built on
first use from ``spark.createDataFrame(<Arrow table>, schema)`` and
kept, so the held frame composes with Spark plans like the frame it
stands in for.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DoubleType, IntegerType, LongType, Row, StructType

#: numpy dtype of each Spark type a held frame may carry (its pandas and
#: Arrow types follow from it, as in Spark's own conversion of a column
#: with no nulls)
_NUMPY = {IntegerType(): np.int32, LongType(): np.int64,
          DoubleType(): np.float64}


class HeldFrame(DataFrame):
    """A DataFrame whose rows are numpy columns held in the driver, one
    per field of ``schema`` (non-nullable numeric fields only)."""

    def __new__(cls, *args, **kwargs):
        # DataFrame.__new__ takes (jdf, session) and calls __init__ with
        # them; a held frame is made from its columns instead
        return object.__new__(cls)

    def __init__(self, spark, schema: StructType, columns):
        self._held_schema = schema
        self._held = [np.asarray(c, _NUMPY[f.dataType])
                      for f, c in zip(schema.fields, columns, strict=True)]
        # pyspark sets its own attributes; its _jdf = None goes through
        # the setter below, so the JVM frame is built on first use
        DataFrame.__init__(self, None, spark)

    @property
    def _jdf(self):
        """The JVM frame of the held rows, built once on first use."""
        if self._held_jdf is None:
            self._held_jdf = self._session.createDataFrame(
                self.toArrow(), self._held_schema)._jdf
        return self._held_jdf

    @_jdf.setter
    def _jdf(self, jdf) -> None:
        self._held_jdf = jdf

    @property
    def schema(self) -> StructType:
        return self._held_schema

    def count(self) -> int:
        return len(self._held[0])

    def collect(self) -> list:
        row = Row(*self.columns)
        return [row(*values)
                for values in zip(*(c.tolist() for c in self._held))]

    def toPandas(self) -> pd.DataFrame:
        return pd.DataFrame(dict(zip(self.columns, self._held)))

    def toArrow(self) -> pa.Table:
        return pa.Table.from_arrays([pa.array(c) for c in self._held],
                                    schema=to_arrow_schema(self.schema))
