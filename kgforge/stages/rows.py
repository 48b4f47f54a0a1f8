"""The per-row Arrow kernel every Python stage in ``kgforge.stages`` runs on.

``flat_map_rows`` is one ``mapInPandas`` over the selected input columns:
each Arrow batch is iterated as plain Python lists (``tolist()`` + ``zip``;
pandas Series iteration is ~2× slower), every input row is handed to a
per-row function that yields 0..n output tuples, and the tuples are
transposed back into one typed pandas frame per batch. No shuffle:
parallelism is inherited from the input partitioning.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

# pandas dtypes Arrow needs to build the Spark column types exactly;
# every other Spark type (string, array, ...) travels as object
_DTYPES = {
    "int": "int32",
    "bigint": "int64",
    "double": "float64",
    "timestamp": "datetime64[us]",
}


def flat_map_rows(
    df: DataFrame,
    in_cols: list[str],
    schema_ddl: str,
    make_fn: Callable[[], Callable[..., Iterable[tuple]]],
) -> DataFrame:
    """``df[in_cols]`` → rows of ``schema_ddl``. ``make_fn()`` runs once per
    Python task on the worker (the place for worker-local state such as
    taggers) and returns ``fn(*row)``, which yields output tuples in schema
    order for one input row."""
    fields = StructType.fromDDL(schema_ddl).fields
    names = [f.name for f in fields]
    dtypes = [_DTYPES.get(f.dataType.simpleString(), "object") for f in fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fn = make_fn()
        for pdf in batches:
            out = [
                t
                for row in zip(*(pdf[c].tolist() for c in in_cols))
                for t in fn(*row)
            ]
            cols = list(zip(*out)) or [()] * len(names)
            yield pd.DataFrame(
                {n: pd.Series(c, dtype=d) for n, c, d in zip(names, cols, dtypes)}
            )

    return df.select(*in_cols).mapInPandas(run, schema_ddl)
