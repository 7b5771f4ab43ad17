"""Storage-layout operators: Z-order (Morton) clustering keys for
multi-dimensional data skipping.

At 100 TB, which rows share a file decides how much a filtered scan reads:
parquet keeps min/max stats per row group, so clustering the write by an
interleaved-bit key gives BOTH dimensions locality — a filter on either
column prunes most files, where a plain sort only prunes its leading
column.  This is the same idea as Delta/Iceberg Z-ORDER, built here from
pure column expressions (shiftright/and/shiftleft sums — whole-stage
codegen, engine-portable, no UDF).

No reference analog: tryfix/kstream has no storage layer at all (state
lives in in-memory maps, backend/memory/memory.go:52-86).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(col_a: Column, col_b: Column, bits: int = 16) -> Column:
    """Morton-interleave the low ``bits`` of two non-negative ints:
    bit i of a lands at 2i+1, bit i of b at 2i.  Columns are masked to
    ``bits`` first, so out-of-range values wrap rather than collide the
    high bits.  Disjoint bit positions mean plain addition == bitwise-or
    (keeps the expression portable to engines without a bitor aggregate).
    """
    a = col_a.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    b = col_b.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)),
                                 2 * i + 1))
        terms.append(F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)),
                                 2 * i))
    return reduce(lambda x, y: x + y, terms).cast("long")


def cluster_by_zorder(df: DataFrame, col_a: str, col_b: str,
                      num_files: int | None = None, bits: int = 16
                      ) -> DataFrame:
    """Range-partition + sort rows by their Z-key so a subsequent write
    yields files whose (col_a, col_b) bounding boxes are small — the write
    side of Z-order data skipping.  One range exchange (sampled bounds);
    pass ``num_files`` to control output file count explicitly.
    """
    keyed = df.withColumn("_zkey", zorder_key(F.col(col_a), F.col(col_b),
                                              bits))
    parts = [num_files] if num_files else []
    return (keyed.repartitionByRange(*parts, F.col("_zkey"))
            .sortWithinPartitions("_zkey"))


def _hilbert_chunk_table(chunk: int) -> list[int]:
    """4-state x 2^(2*chunk)-input Hilbert state-transition table, built
    by simulating the classic per-bit xy2d walk on one ``chunk``-bit
    coordinate pair (chunk=4: the r10 nibble table; chunk=8: the r11
    per-BYTE table — 4x65536 entries, halving the lookups per row).

    State t encodes the dihedral transform the consumed high bits impose
    on all remaining low bits: bit0 = swap(x,y), bit1 = complement-both.
    (Only these four compose: each walk level applies either nothing,
    a swap, or complement-both-then-swap, and that set is closed — the
    classic 4-state Hilbert LUT result.)  Entry value =
    next_state * 2^(2*chunk) + the chunk's 2*chunk output bits of d.
    Equivalence with the per-bit fold is verified exhaustively at
    bits=4/8/12 and randomized at bits=16 in tests/test_layout.py."""
    size = 1 << chunk
    sq = size * size
    tbl = [0] * (4 * sq)
    for t in range(4):
        for xn in range(size):
            for yn in range(size):
                x, y = (yn, xn) if t & 1 else (xn, yn)
                if t & 2:
                    x, y = size - 1 - x, size - 1 - y
                d, sw, cp = 0, t & 1, (t >> 1) & 1
                s = size >> 1
                while s:
                    rx = 1 if x & s else 0
                    ry = 1 if y & s else 0
                    d += s * s * ((3 * rx) ^ ry)
                    if ry == 0:
                        if rx == 1:
                            x, y = s - 1 - x, s - 1 - y
                            cp ^= 1
                        x, y = y, x
                        sw ^= 1
                    s >>= 1
                tbl[t * sq + xn * size + yn] = (sw | cp << 1) * sq + d
    return tbl


_HILBERT_TBLS: dict[int, list[int]] = {}


def hilbert_key(col_a: Column, col_b: Column, bits: int = 16) -> Column:
    """Hilbert-curve index of two non-negative ints (the classic xy2d
    walk, e.g. Hamilton's TR or Wikipedia's public-domain form) — the
    locality-preserving upgrade of ``zorder_key``: Morton order jumps
    across space at every power-of-two boundary (bit carries), while the
    Hilbert curve is CONTINUOUS, so consecutive keys are always spatial
    neighbors and file bounding boxes come out tighter for the same sort
    (measured below in tests/test_layout.py: max per-file bounding-box
    area consistently <= the Morton layout's on the same data).

    Implementation (bits divisible by 4 — every practical call): an
    UNROLLED state-table walk consuming one CHUNK of each coordinate per
    step — ``element_at`` into a SINGLE literal-array node (``F.lit`` of
    the whole table, not per-element ``F.array``: 1 expression node vs
    thousands — the r11 fix; the r10 per-element nibble array left
    ``layout_hilbert`` at 8.4x its oracle on expression-tree depth
    alone).  Chunk is FIXED at 4 (4x256-entry nibble table, 4 lookups
    per row at bits=16): a per-byte table (chunk=8) would halve the
    lookups but its ~1M literal expression nodes cost minutes of
    planning time before constant folding — see the inline comment at
    the ``chunk = 4`` assignment below.  Unrolled
    plain expressions run inside WHOLE-STAGE CODEGEN with common-
    subexpression elimination; an ``F.aggregate`` fold of the same walk
    is interpreted per element and measured ~2.7x slower at sf1 (and the
    state chain references each lookup only twice, so the unrolled tree
    stays small — unlike the rotate/reflect walk, whose per-level x/y
    double-reference is why the bits%4!=0 fallback below must stay a
    fold).  Engine-portable — the DuckDB oracle replays the per-bit walk
    with unrolled CTEs (inventory_behavior._hilbert_sql; DuckDB 1.0's
    ``list_reduce`` mis-executes correlated per-row folds, so the oracle
    deliberately avoids it); the table path is bit-identical to it
    (exhaustive equivalence tests + exceptAll parity at bits=8/16 on the
    sf1 events fixture) — no UDF.
    """
    if bits % 4 == 0 and bits > 0:
        # chunk stays 4: a per-byte table (4x65536 entries) would halve
        # the per-row lookups, but classic PySpark's F.lit(list) /
        # F.array both materialize ONE EXPRESSION NODE PER ELEMENT, and
        # ~1M analysis-time nodes cost ~2 minutes of planning before
        # ConstantFolding ever collapses them (measured r11; the nibble
        # table's 4096 nodes fold in well under a second).  Execution
        # cost is identical either way — after folding both are a single
        # Literal(ArrayData) lookup chain.
        chunk = 4
        if chunk not in _HILBERT_TBLS:
            _HILBERT_TBLS[chunk] = _hilbert_chunk_table(chunk)
        size, sq = 1 << chunk, 1 << (2 * chunk)
        mask = F.lit((1 << bits) - 1)
        tbl = F.lit(_HILBERT_TBLS[chunk])   # ONE literal array node
        x = col_a.cast("long").bitwiseAND(mask)
        y = col_b.cast("long").bitwiseAND(mask)
        st = F.lit(0).cast("long")
        d = F.lit(0).cast("long")
        for c in range(bits // chunk - 1, -1, -1):
            # all-integer: shift amounts are Python literals, which is
            # exactly what F.shiftright accepts; element_at is 1-based
            xn = F.shiftright(x, chunk * c).bitwiseAND(F.lit(size - 1))
            yn = F.shiftright(y, chunk * c).bitwiseAND(F.lit(size - 1))
            val = F.element_at(tbl, (st * sq + xn * size + yn + 1)
                               .cast("int"))
            d = d * sq + val.bitwiseAND(F.lit(sq - 1))
            st = F.shiftright(val, 2 * chunk)
        return d.cast("long")
    mask = F.lit((1 << bits) - 1)
    x0 = col_a.cast("long").bitwiseAND(mask)
    y0 = col_b.cast("long").bitwiseAND(mask)
    init = F.struct(x0.alias("x"), y0.alias("y"),
                    F.lit(0).cast("long").alias("d"))

    def step(acc, i):
        # 2^i as a column (F.shiftleft takes only literal bit counts);
        # pow is exact in doubles through 2^52 — far past any bits here
        s = F.pow(F.lit(2.0), i.cast("double")).cast("long")
        rx = F.when(acc["x"].bitwiseAND(s) > 0,
                    F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        ry = F.when(acc["y"].bitwiseAND(s) > 0,
                    F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        d2 = acc["d"] + s * s * (rx * 3).bitwiseXOR(ry)
        # rotate the quadrant: ry==0 -> (flip when rx==1, then swap x/y)
        xr = F.when(rx == 1, s - 1 - acc["x"]).otherwise(acc["x"])
        yr = F.when(rx == 1, s - 1 - acc["y"]).otherwise(acc["y"])
        nx = F.when(ry == 0, yr).otherwise(acc["x"])
        ny = F.when(ry == 0, xr).otherwise(acc["y"])
        return F.struct(nx.alias("x"), ny.alias("y"), d2.alias("d"))

    folded = F.aggregate(
        F.sequence(F.lit(bits - 1), F.lit(0), F.lit(-1)), init, step)
    return folded.getField("d").cast("long")


def cluster_by_hilbert(df: DataFrame, col_a: str, col_b: str,
                       num_files: int | None = None, bits: int = 16
                       ) -> DataFrame:
    """``cluster_by_zorder`` with the Hilbert key — same one range
    exchange, tighter per-file bounding boxes."""
    keyed = df.withColumn("_hkey", hilbert_key(F.col(col_a), F.col(col_b),
                                               bits))
    parts = [num_files] if num_files else []
    return (keyed.repartitionByRange(*parts, F.col("_hkey"))
            .sortWithinPartitions("_hkey"))
