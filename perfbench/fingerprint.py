"""Order-insensitive row fingerprints.

``spark_fingerprint`` turns a DataFrame into one aggregate row (row count
plus the sum of a per-row xxhash64), so forcing the fingerprint executes the
full plan the way ``count()`` would while also checking every output value.
Floating-point values are rounded to float32 first: sums whose order depends
on partitioning differ only in the last bits of a double, which float32
rounding absorbs. Maps are hashed as their sorted entries.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T


def _norm(expr: str, dt: T.DataType) -> str:
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return f"CAST(CAST({expr} AS FLOAT) AS DOUBLE)"
    if isinstance(dt, T.ArrayType):
        return f"transform({expr}, x -> {_norm('x', dt.elementType)})"
    if isinstance(dt, T.MapType):
        entries = f"array_sort(map_entries({expr}))"
        inner = T.StructType([T.StructField("key", dt.keyType), T.StructField("value", dt.valueType)])
        return f"transform({entries}, e -> {_norm('e', inner)})"
    if isinstance(dt, T.StructType):
        fields = ", ".join(
            f"'{f.name}', {_norm(f'{expr}.`{f.name}`', f.dataType)}" for f in dt.fields
        )
        return f"named_struct({fields})" if dt.fields else expr
    return expr


def spark_fingerprint_df(df):
    """The one-row aggregate whose collection is the fingerprint action."""
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    cols = [F.expr(_norm(f"`{f.name}`", f.dataType)) for f in fields]
    h = F.xxhash64(*cols) if cols else F.lit(0)
    return df.select(h.alias("_h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_h").cast("decimal(38,0)")).alias("s"),
    )


def collect_fingerprint(fp_df) -> str:
    row = fp_df.collect()[0]
    return f"{row['n']}:{row['s'] or 0}"

