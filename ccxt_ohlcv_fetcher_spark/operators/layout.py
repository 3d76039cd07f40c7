"""Multi-dimensional data layout: Z-order (Morton) clustering.

Hive partitioning prunes on ONE directory hierarchy; a 100 TB table
queried by several independent range predicates (user AND time AND
value) wants rows that are close in EVERY dimension to live in the
same files, so parquet row-group min/max stats skip most of the table
for any box query. Z-ordering achieves that by sorting on the Morton
interleave of the quantized dimensions — the same technique Delta's
OPTIMIZE ZORDER BY applies (public algorithm: interleave the bits of
rank-normalized columns).

Pure Spark implementation: per-column quantile quantization (one
approx-percentile aggregate per dimension) -> bit interleave via a HOF
over a literal bit-index sequence (no UDF). ``SnapshotStore.compact``
range-partitions on the z-value and sorts within partitions. Everything
stays in codegen; the only driver data is the quantile boundaries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_value(cols: list[Column | str], mins: list[float], maxs: list[float], bits: int = 15) -> Column:
    """Morton code of the quantized columns (``len(cols) * bits`` total
    bits — keep under 63). Quantization is linear min/max scaling to
    ``[0, 2^bits)``; NULL sorts as 0 (start of the curve)."""
    n = len(cols)
    assert n * bits <= 63, "z-value must fit a signed 64-bit long"
    scaled = []
    for c, lo, hi in zip(cols, mins, maxs):
        col = F.col(c) if isinstance(c, str) else c
        span = (hi - lo) or 1.0
        q = F.least(
            F.lit((1 << bits) - 1),
            F.greatest(
                F.lit(0),
                ((col.cast("double") - F.lit(float(lo)))
                 / F.lit(float(span)) * F.lit(float((1 << bits) - 1))).cast("bigint"),
            ),
        )
        scaled.append(F.coalesce(q, F.lit(0)))
    # interleave: output bit (i*n + d) = bit i of dimension d

    def interleave(q: Column, d: int):
        # factory pins q/d per dimension (HOF lambdas must be (acc, i));
        # shiftleft/shiftright only take literal shift amounts, so the
        # variable shifts are pow-of-2 multiply/divide (exact for < 2^62)
        def step(acc: Column, i: Column) -> Column:
            p2i = F.pow(F.lit(2.0), i.cast("double")).cast("bigint")
            bit = F.pmod((q / p2i).cast("bigint"), F.lit(2))
            weight = F.pow(F.lit(2.0), (i * n + d).cast("double")).cast("bigint")
            return acc + bit * weight

        return step

    z = F.lit(0).cast("bigint")
    for d, q in enumerate(scaled):
        z = z + F.aggregate(
            F.sequence(F.lit(0), F.lit(bits - 1)),
            F.lit(0).cast("bigint"),
            interleave(q, d),
        )
    return z


def rank_quantized(df: DataFrame, col: str, bits: int) -> Column:
    """Quantile (rank) quantization of ``col`` to ``[0, 2^bits)``: bucket
    id = number of approx-percentile boundaries <= value. This is what
    Delta's OPTIMIZE ZORDER does before interleaving — and it matters:
    linear min/max quantization DEGENERATES on heavy-tailed columns
    (most rows collapse into a few low cells, so that dimension's curve
    bits stop varying and the layout regresses to single-column sort;
    measured on the events fixture, tests/test_layout.py). Cost: one
    approx-percentile aggregate per dimension (driver gets 2^bits - 1
    doubles) and an O(2^bits) HOF per row — layout-time only."""
    n_bounds = (1 << bits) - 1
    probs = [i / float(1 << bits) for i in range(1, 1 << bits)]
    bounds = df.agg(
        F.percentile_approx(F.col(col).cast("double"), probs).alias("b")
    ).collect()[0]["b"]
    assert len(bounds) == n_bounds
    return F.size(
        F.filter(F.lit([float(b) for b in bounds]), lambda b: b <= F.col(col).cast("double"))
    ).cast("bigint")


def zorder_column(df: DataFrame, cols: list[str]) -> Column:
    """The Z-curve position column for ``cols`` over ``df``'s value
    distribution: quantile-bucket ids (6 bits per dimension, see
    :func:`rank_quantized`) bit-interleaved by :func:`zorder_value`.
    SnapshotStore.compact's ``zorder_by`` passes it straight to
    repartitionByRange."""
    bits = 6
    return zorder_value(
        [rank_quantized(df, c, bits) for c in cols],
        [0.0] * len(cols),
        [float((1 << bits) - 1)] * len(cols),
        bits=bits,
    )
