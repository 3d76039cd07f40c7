"""Z-order layout (operators/layout.py): Morton-code correctness and
the property that matters — a multi-dimensional box query reads fewer
bytes under Z-order than under single-column clustering.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ccxt_ohlcv_fetcher_spark.operators.layout import zorder_value
from tests.conftest import SF_DIR

#: Scale of the events fixture the box-query measurement reads, beside
#: the suite's own fixture under the same testdata root. It needs
#: sf0.01 (10,000 events): at sf0.001 (1,000 events, about 16 rows in
#: each of the 64 files) per-file parquet overhead dominates, and the
#: two layouts' total bytes differ by 40% (10.7 vs 17.9 KB), so they
#: no longer have comparable geometry.
ZORDER_SF = "sf0.01"


def _morton2(x: int, y: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_value_matches_reference_morton(spark):
    rows = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(rows, "x int, y int")
    # identity quantization: min=0, max=2^bits-1 with bits=3
    out = df.select(
        "x", "y", zorder_value(["x", "y"], [0, 0], [7, 7], bits=3).alias("z")
    ).collect()
    for r in out:
        assert r["z"] == _morton2(r["x"], r["y"], 3), (r["x"], r["y"], r["z"])


def _box_bytes_by_rowgroup_stats(path: str, box: dict[str, tuple]) -> tuple[int, int]:
    """(bytes a stats-pruning reader must fetch, total bytes) for a box
    query, from the parquet footers alone: a row group is read iff its
    min/max range overlaps the box on EVERY predicate column — exactly
    the skipping rule Spark's parquet reader (and any engine's) applies.
    """
    import glob

    import pyarrow.parquet as pq

    read = total = 0
    for f in glob.glob(path + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            stats = {
                g.column(ci).path_in_schema: g.column(ci).statistics
                for ci in range(g.num_columns)
            }
            size = g.total_byte_size
            total += size
            if all(
                stats[c].min <= hi and stats[c].max >= lo
                for c, (lo, hi) in box.items()
            ):
                read += size
    return read, total


def test_zorder_rowgroup_bytes_read_measured(spark, tmp_path):
    """The actual 100 TB benefit, measured in BYTES from parquet footer
    stats on the events fixture: summed over a 3x3 grid of 20%-quantile
    (user_id, value) box queries, a rank-quantized Z-ordered store must
    fetch well under the bytes the single-column (user_id-sorted) layout
    fetches, at identical file/row-group geometry (64 range partitions
    on both — the delta is purely the clustering; a row group must be
    SMALLER than the box for Z-order to pay, which at 100 TB is the
    normal regime of 128 MB row groups against terabyte tables — at 8
    coarse row groups each z-cell spanned half of both dims and Z
    measurably LOST to the plain sort). Boxes are defined in QUANTILE
    space so the heavy-tailed value column gets selective bands; a
    single box straddling the curve's top bit split can tie, which is
    why the measurement aggregates a grid of boxes."""
    import numpy as np

    events = spark.read.parquet(
        os.path.join(os.path.dirname(SF_DIR), ZORDER_SF, "events.parquet")
    ).select("event_id", "user_id", "value")

    linear = str(tmp_path / "linear")
    (
        events.repartitionByRange(64, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(linear)
    )
    zpath = str(tmp_path / "zorder")
    from ccxt_ohlcv_fetcher_spark.operators.layout import (
        rank_quantized,
        zorder_value,
    )

    # rank quantization (what zorder_column applies): value is heavy-tailed
    # (median 35, max 490 in this fixture), and linear min/max scaling
    # collapses most rows into a few low cells — measured, that layout
    # READ MORE bytes than the plain user_id sort (65 KB vs 39 KB)
    z = zorder_value(
        [rank_quantized(events, "user_id", 6), rank_quantized(events, "value", 6)],
        [0.0, 0.0],
        [63.0, 63.0],
        bits=6,
    )
    (
        events.withColumn("_z", z)
        .repartitionByRange(64, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(zpath)
    )

    pdf = events.select("user_id", "value").toPandas()
    uq = np.quantile(pdf["user_id"], [0.05, 0.25, 0.4, 0.6, 0.75, 0.95])
    vq = np.quantile(pdf["value"], [0.05, 0.25, 0.4, 0.6, 0.75, 0.95])
    bands = [(0, 1), (2, 3), (4, 5)]
    z_sum = l_sum = 0
    z_total = l_total = 0
    for ub in bands:
        for vb in bands:
            box = {
                "user_id": (float(uq[ub[0]]), float(uq[ub[1]])),
                "value": (float(vq[vb[0]]), float(vq[vb[1]])),
            }
            zr, zt = _box_bytes_by_rowgroup_stats(zpath, box)
            lr, lt = _box_bytes_by_rowgroup_stats(linear, box)
            z_sum += zr
            l_sum += lr
            z_total, l_total = zt, lt
    # identical data, comparable geometry
    assert abs(z_total - l_total) < 0.25 * l_total
    assert z_sum < 0.65 * l_sum, (
        f"z-order bytes-read win missing over the box grid: "
        f"z={z_sum} linear={l_sum} (totals {z_total}/{l_total})"
    )
    # and the result sets agree on a sample box
    q = (F.col("user_id").between(float(uq[2]), float(uq[3]))) & (
        F.col("value").between(float(vq[2]), float(vq[3]))
    )
    assert (
        spark.read.parquet(zpath).filter(q).count()
        == spark.read.parquet(linear).filter(q).count()
    )
