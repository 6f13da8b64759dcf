"""Physical data layout: Z-order (Morton) multi-dimensional clustering.

At 100 TB the cheapest scan is the one that never happens: parquet keeps
per-file/per-row-group min-max statistics, and Spark prunes files whose
stats can't satisfy the filter. A single-column sort gives tight stats on
ONE column only — filters on any other column touch every file. Z-order
interleaves the bits of several columns into one sort key, so a range
query on ANY of the interleaved dimensions maps to a bounded set of
z-ranges → bounded set of files. (The same layout trick Delta/Iceberg
expose as `OPTIMIZE ... ZORDER BY`; here it is plain Spark:
`repartitionByRange(z) → sortWithinPartitions(z) → write`.)

Pure integer Catalyst arithmetic (shifts/masks) — oracle-checkable and
codegen'd; no UDF, no RDD.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zvalue(cols: list[Column | str], bits: int = 16) -> Column:
    """Morton code of ``len(cols)`` non-negative integer columns, ``bits``
    low bits each: bit ``b`` of column ``c`` lands at interleaved position
    ``b * ncols + c``. Inputs must already be rank/bucket integers in
    ``[0, 2^bits)`` — compute ranks or buckets upstream (quantile bucketing
    for skewed doubles, dictionary ranks for strings)."""
    ncols = len(cols)
    if ncols * bits > 63:
        # The top interleaved bit would land on (or past) the bigint sign
        # bit: 4 cols × 16 bits puts bit 63 in play (negative z-values that
        # misorder repartitionByRange); 5+ cols wrap shiftleft (mod 64) and
        # silently corrupt keys. Fail loudly; callers lower `bits`.
        raise ValueError(
            f"zvalue: {ncols} cols × {bits} bits = {ncols * bits} interleaved "
            "bits > 63 (bigint sign bit) — lower `bits` so ncols*bits <= 63"
        )
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        for ci, c in enumerate(cs):
            z = z + F.shiftleft(
                F.shiftright(c.cast("bigint"), b).bitwiseAND(F.lit(1)),
                b * ncols + ci,
            )
    # Out-of-range inputs silently corrupt the key (bits above `bits` are
    # dropped — 0 and 2^bits collide; negatives scramble the interleave
    # via arithmetic shiftright's sign fill) and the promised min-max
    # pruning degrades to full scans with no error. Same fail-loudly rule
    # as the ncols*bits check above, but per ROW.
    bound = 1 << bits
    # NULL dimensions are named explicitly: between() is NULL for null
    # input, so when() fell through to the out-of-range error and sent
    # the user hunting for bad integers instead of nulls (review find).
    # A z-key must exist for every row (a null key scrambles the range
    # partition), so nulls raise — with the right message.
    any_null = cs[0].isNull()
    for c in cs[1:]:
        any_null = any_null | c.isNull()
    ok = ~any_null & cs[0].cast("bigint").between(0, bound - 1)
    for c in cs[1:]:
        ok = ok & c.cast("bigint").between(0, bound - 1)
    return (
        F.when(ok, z)
        .when(
            any_null,
            F.raise_error(
                F.lit(
                    "zvalue: NULL input dimension — a z-key must exist "
                    "for every row; fill or filter nulls upstream"
                )
            ).cast("bigint"),
        )
        .otherwise(
            F.raise_error(
                F.lit(
                    f"zvalue: input outside [0, {bound}) for bits={bits} — "
                    "rank/bucket the column upstream"
                )
            ).cast("bigint")
        )
    )


def zorder_write(
    df: DataFrame,
    cols: list[str],
    path: str,
    n_files: int = 8,
    bits: int = 16,
) -> None:
    """Write ``df`` z-clustered on ``cols``: range-partition by the Morton
    key (each output file owns a contiguous z-range → a tight min-max box
    in EVERY interleaved dimension), sort within partitions, drop the key.

    One range shuffle — the same cost as a plain global sort-write, but
    the stats benefit applies to all ``cols``, not one."""
    if "_z" in df.columns:
        # the reserved-column rule (round-8 review sweep): withColumn
        # would silently replace a caller's _z and then DROP it on write
        raise ValueError(
            "zorder_write: input already carries a '_z' column — the "
            "reserved internal name; rename it first"
        )
    keyed = df.withColumn("_z", zvalue(cols, bits))
    (
        keyed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )

