"""Order-insensitive output digest of a query's DataFrame.

Each row is rendered with ``to_json`` over the columns in name order and
hashed with xxhash64; the digest covers the schema, the row count and
the exact decimal sum of the row hashes, so it does not depend on row
order or partitioning. ``to_json`` keeps every double's full text
(``-0.0`` and ``NaN`` included), so any value change moves the digest.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, functions as F


def digest(df: DataFrame) -> str:
    names = df.columns
    cols = sorted(range(len(names)), key=lambda i: (names[i], i))
    flat = df.toDF(*[f"_c{i}" for i in range(len(names))])
    row_hash = F.xxhash64(F.to_json(F.struct(*[flat[f"_c{i}"].alias(names[i]) for i in cols])))
    n, total = flat.agg(
        F.count(F.lit(1)), F.sum(row_hash.cast("decimal(38,0)"))
    ).first()
    schema = ",".join(f"{names[i]}:{df.dtypes[i][1]}" for i in cols)
    return hashlib.sha256(f"{schema}|{n}|{total}".encode()).hexdigest()[:32]
