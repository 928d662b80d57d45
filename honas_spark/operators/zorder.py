"""Z-order (Morton) clustering keys — multi-dimensional data locality
for table layouts.

At 10^12-row scale the dominant cost of every later query is how much
of the table a scan can SKIP.  Iceberg/parquet prune files by per-file
min/max ranges, which only helps along the sort key; interleaving the
bits of several key columns into one Morton key and range-partitioning
on it gives every participating dimension tight per-file ranges at
once (the standard Z-ORDER layout optimization, e.g. Iceberg's
rewrite_data_files sort strategy).

The key computation is a pure projection of shift/mask/or built-ins —
whole-stage codegen, no UDF, no shuffle.  A re-clustering write adds the
one range exchange it must pay: `repartitionByRange` on the key, then
`sortWithinPartitions`.
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import Column, functions as F


def zorder_key(*cols: Column | str, bits: int = 16) -> Column:
    """Morton interleave of the low `bits` bits of each column.

    Bit b of column i lands at output position b*len(cols) + i, so
    nearby values in EVERY dimension map to nearby Z values.  Columns
    must be (castable to) non-negative integers no wider than `bits`
    bits — values are masked to that width.  len(cols)*bits must fit a
    signed 64-bit long (<= 63).
    """
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    n = len(cols)
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a 64-bit key")
    mask = (1 << bits) - 1
    terms = []
    for i, c in enumerate(cols):
        col = (F.col(c) if isinstance(c, str) else c).cast("long")
        col = col.bitwiseAND(F.lit(mask))
        for b in range(bits):
            terms.append(
                F.shiftleft(
                    F.shiftright(col, b).bitwiseAND(F.lit(1)), b * n + i
                )
            )
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def zorder_key_sql(cols: Sequence[str], bits: int = 16) -> str:
    """The identical interleave as one ANSI-SQL expression (bit shifts
    and masks only) — used by the cross-engine oracle and by callers
    that want the key inside spark.sql / external engines."""
    n = len(cols)
    mask = (1 << bits) - 1
    terms = [
        f"(((CAST({c} AS BIGINT) & {mask}) >> {b}) & 1) << {b * n + i}"
        for i, c in enumerate(cols)
        for b in range(bits)
    ]
    return "(" + " | ".join(f"({t})" for t in terms) + ")"

