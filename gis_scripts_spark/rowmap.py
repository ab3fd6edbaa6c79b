"""One Arrow row loop for every per-row Python stage.

A per-file loop of the reference (decode one raster, run its numpy
kernel, write one result) becomes one `mapInPandas` stage whose kernel
sees one row at a time. `map_rows` is that stage's only batch loop: it
hands each input row to the kernel as a dict and builds each output batch
in the schema's column order, so no operator writes its own
``for pdf in batches`` loop.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def map_rows(df: DataFrame, fn: Callable[[dict], Iterable], schema: StructType) -> DataFrame:
    """One mapInPandas over `df`: `fn(row)` gets each row as a dict and
    yields zero or more output rows, each a tuple in `schema` order or a
    dict keyed by field name (keys outside the schema are dropped). One
    kernel yields one kind of row."""
    names = schema.fieldNames()

    def run(batches):
        for pdf in batches:
            rows = []
            for row in pdf.to_dict("records"):
                rows.extend(fn(row))
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(run, schema)
