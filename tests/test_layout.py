"""Z-order layout: Morton-code correctness plus the actual pruning
benefit — a z-clustered write must give tight per-file min-max boxes on
EVERY interleaved dimension, where a single-column sort gives tight
stats on one dimension only."""

import glob

import pyarrow.parquet as pq

from pubmed_central_semantic_search_spark.plans.layout import zvalue, zorder_write


def test_zvalue_hand_computed(spark):
    rows = [(1, 0), (0, 1), (3, 3), (2, 1)]
    df = spark.createDataFrame(rows, "x int, y int")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", zvalue(["x", "y"], bits=2).alias("z")).collect()
    }
    # bit b of x → position 2b; bit b of y → position 2b+1
    assert got == {
        (1, 0): 0b0001,
        (0, 1): 0b0010,
        (3, 3): 0b1111,
        (2, 1): 0b0110,
    }


def _files_intersecting(path: str, col: str, lo: int, hi: int) -> int:
    hit = 0
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        fmin, fmax = None, None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    s = c.statistics
                    fmin = s.min if fmin is None else min(fmin, s.min)
                    fmax = s.max if fmax is None else max(fmax, s.max)
        if fmin is not None and not (fmax < lo or fmin > hi):
            hit += 1
    return hit


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    n = 64
    grid = spark.range(n * n).selectExpr(
        "CAST(id % 64 AS INT) AS x", "CAST(id DIV 64 AS INT) AS y"
    )
    xsorted = str(tmp_path / "xsorted")
    zorded = str(tmp_path / "zorder")
    (
        grid.repartitionByRange(8, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(xsorted)
    )
    zorder_write(grid, ["x", "y"], zorded, n_files=8, bits=6)

    # Query box: y in [0, 15], x unconstrained.
    x_hit = _files_intersecting(xsorted, "y", 0, 15)
    z_hit = _files_intersecting(zorded, "y", 0, 15)
    assert x_hit == 8  # x-sort: every file spans all of y
    assert z_hit <= 4  # z-order: y-range maps to a bounded z-range

    # And the x dimension still prunes under z-order.
    assert _files_intersecting(zorded, "x", 0, 15) <= 4


def test_zvalue_rejects_sign_bit_overflow(spark):
    """4 cols x 16 bits puts the top interleaved bit on the bigint sign bit
    (negative z-values misorder repartitionByRange); 5+ cols wrap shiftleft
    — both must fail loudly, not silently mis-cluster."""
    import pytest

    from pubmed_central_semantic_search_spark.plans.layout import zvalue

    with pytest.raises(ValueError, match="bigint sign bit"):
        zvalue(["a", "b", "c", "d"], bits=16)
    with pytest.raises(ValueError):
        zvalue(["a", "b", "c", "d", "e"], bits=16)
    # boundary: 63 interleaved bits is fine
    zvalue(["a", "b", "c"], bits=21)


def test_zvalue_three_columns_matches_python(spark):
    """3-dim Morton interleave (the case the round-1 advice flagged as
    untested) — cross-checked against a bit-twiddling python model."""
    from pubmed_central_semantic_search_spark.plans.layout import zvalue

    rows = [(x, y, z) for x in (0, 1, 5, 7) for y in (0, 3, 6) for z in (0, 2, 7)]
    df = spark.createDataFrame(rows, "x long, y long, z long")
    got = {
        (r["x"], r["y"], r["z"]): r["zv"]
        for r in df.select("x", "y", "z", zvalue(["x", "y", "z"], bits=3).alias("zv")).collect()
    }

    def morton3(x, y, z, bits=3):
        v = 0
        for b in range(bits):
            v |= ((x >> b) & 1) << (3 * b)
            v |= ((y >> b) & 1) << (3 * b + 1)
            v |= ((z >> b) & 1) << (3 * b + 2)
        return v

    assert got == {(x, y, z): morton3(x, y, z) for x, y, z in rows}

