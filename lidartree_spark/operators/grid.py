"""Grid / cell-id encoding and tile georeferencing — pure Catalyst column
expressions (no UDFs), so predicate pushdown and partition pruning work.

The hierarchical cell id is the bit-interleaved Morton (or Hilbert) code of
(floor(x / res), floor(y / res)) — S2/H3-style locality in pure arithmetic,
SURVEY.md §2.12. Snapping rules follow the reference exactly:
- extent snap: floor/ceil(x / res) * res   (/root/reference/R/common.R:61-64)
- re-grid snap: round((x - start - res/2)/res)*res + start + res/2
  (/root/reference/R/raster_metrics.R:83-84)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

RES = 0.5


# THE tile-id parse policy (single source of truth — generator.
# parse_tile_id is its Python twin and must stay in sync): ASCII digits
# only, 1-9 of them, so every accepted value fits INT (10+ digits would
# CAST to NULL, silently defeating the raise_error guard) and the 4-digit
# padding is treated as the MINIMUM width it is.
_TILE_RX = "^[tp]([0-9]{1,9})_([0-9]{1,9})$"


def _tile_part(image_id: Column, group: int) -> Column:
    # ONE regex execution per part (r5: was rlike + regexp_extract = two):
    # regexp_extract returns '' on non-match, nullif turns that into NULL,
    # and coalesce falls through to the loud raise. The {1,9} bound means a
    # matched group always CASTs cleanly to INT, so NULL here can only mean
    # "did not match" — the raise path stays exact.
    bad = F.raise_error(
        F.concat(F.lit("unparseable tile id: "), image_id)).cast("int")
    got = F.nullif(F.regexp_extract(image_id, _TILE_RX, group),
                   F.lit("")).cast("int")
    return F.coalesce(got, bad)


def tile_row(image_id: Column) -> Column:
    return _tile_part(image_id, 1)


def tile_col(image_id: Column) -> Column:
    return _tile_part(image_id, 2)


def tile_bbox(image_id: Column, w: Column, h: Column, res: float = RES):
    """(xmin, ymin, xmax, ymax) struct of the tile extent, derived — not
    stored — from the grid position (FIXTURES.md §1)."""
    r, c = tile_row(image_id), tile_col(image_id)
    xmin = c.cast("double") * w.cast("double") * F.lit(res)
    ymin = r.cast("double") * h.cast("double") * F.lit(res)
    return F.struct(
        xmin.alias("xmin"),
        ymin.alias("ymin"),
        (xmin + w.cast("double") * F.lit(res)).alias("xmax"),
        (ymin + h.cast("double") * F.lit(res)).alias("ymax"),
    )


def snap_to_grid(x: Column, start: float, res: float) -> Column:
    """Reference re-grid snap (raster_metrics.R:83-84): cell-center coords."""
    return (F.round((x - F.lit(start) - F.lit(res / 2)) / F.lit(res), 0)
            * F.lit(res) + F.lit(start) + F.lit(res / 2))


# --- Hierarchical Morton (Z-order) cell index — the H3/S2-style key of the
# north rule. Bit-interleaved (cx, cy) gives every level of the hierarchy
# for free: parent = code >> 2k, a level-L cell's points occupy ONE
# contiguous code range [p << 2k, (p+1) << 2k). That contiguity is the
# scale story: cluster the 10^12-image table by morton code (Z-ORDER) and
# any ROI/cell filter becomes a code-range predicate that parquet/Iceberg
# min-max file stats prune BEFORE reading — no UDF anywhere, all whole-stage
# codegen. Replaces the reference's implicit single-resolution grid snap
# (raster_metrics.R:83-84) with a multi-resolution index.
MORTON_BITS = 25          # bits per axis after biasing; code uses 2x25 = 50
MORTON_BIAS = 1 << 24     # shifts negative grid coords into [0, 2^25)

# magic-mask bit spread: abcde... -> a0b0c0d0e0... (even positions)
_SPREAD = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread_bits(v: Column) -> Column:
    v = v.bitwiseAND(F.lit((1 << MORTON_BITS) - 1))
    for shift, mask in _SPREAD:
        v = v.bitwiseOR(F.shiftleft(v, shift)).bitwiseAND(F.lit(mask))
    return v


def morton_cell(x: Column, y: Column, res: float) -> Column:
    """Finest-level Morton code of a point: bit-interleave of the biased
    integer grid coords floor(x/res), floor(y/res). Pure Catalyst bit
    arithmetic (shiftleft/and/or) -> whole-stage codegen, no UDF.
    Coordinates outside the 25-bit biased domain raise instead of aliasing
    (_spread_bits masks to 25 bits, so an out-of-domain point would
    otherwise WRAP into a valid-looking but wrong cell and corrupt Z-order
    pruning ranges undetectably). The guard is ONE additive term (0 when
    in-domain, raise when not), NOT a CASE wrapped around each coordinate:
    the spread chain references its input ~2^5 times, and a guarded leaf
    inlined at every reference blew the generated method past the JIT
    limits — measured 2.5x slower than this form on the cell-index gate."""
    cx = F.floor(x / F.lit(res)).cast("long") + F.lit(MORTON_BIAS)
    cy = F.floor(y / F.lit(res)).cast("long") + F.lit(MORTON_BIAS)
    lim = F.lit(1 << MORTON_BITS)
    ok = (cx >= 0) & (cx < lim) & (cy >= 0) & (cy < lim)
    guard = F.when(ok, F.lit(0).cast("long")).otherwise(
        F.raise_error(F.concat(
            F.lit("morton_cell: grid coordinate out of [-2^24, 2^24) "
                  "domain: ("),
            (cx - F.lit(MORTON_BIAS)).cast("string"), F.lit(", "),
            (cy - F.lit(MORTON_BIAS)).cast("string"), F.lit(")")))
        .cast("long"))
    return (_spread_bits(cx).bitwiseOR(F.shiftleft(_spread_bits(cy), 1))
            + guard)


def morton_parent(code: Column, levels_up: int) -> Column:
    """Ancestor cell id `levels_up` levels above (each level halves both
    axes). Parent of a code is a pure right-shift — no recompute."""
    return F.shiftright(code, 2 * levels_up)


def morton_range(parent: Column, levels_up: int) -> Column:
    """struct(lo, hi): the half-open fine-code range [lo, hi) occupied by
    every descendant of `parent`. Filtering `code >= lo AND code < hi` is a
    sargable predicate that reaches the parquet scan (PushedFilters) and
    prunes Z-ordered files by min/max stats."""
    lo = F.shiftleft(parent, 2 * levels_up)
    hi = F.shiftleft(parent + F.lit(1), 2 * levels_up)
    return F.struct(lo.alias("lo"), hi.alias("hi"))


def morton_decode(code: int) -> tuple[int, int]:
    """Driver/test-side inverse (unbiased grid coords). Not used in plans."""
    def compact(v: int) -> int:
        v &= 0x5555555555555555
        v = (v | (v >> 1)) & 0x3333333333333333
        v = (v | (v >> 2)) & 0x0F0F0F0F0F0F0F0F
        v = (v | (v >> 4)) & 0x00FF00FF00FF00FF
        v = (v | (v >> 8)) & 0x0000FFFF0000FFFF
        v = (v | (v >> 16)) & 0x00000000FFFFFFFF
        return v
    return (compact(code) - MORTON_BIAS,
            compact(code >> 1) - MORTON_BIAS)


# ---------------------------------------------------------------------------
# Hilbert curve cell index — the locality-preserving alternative to Morton.
# Same sargable hierarchy (every quadrant at every level is ONE contiguous
# code range, so hilbert_parent/hilbert_range are plain shifts like their
# Morton twins) plus the stronger locality property Morton lacks:
# consecutive codes are always 4-neighbors in the grid, so range scans over
# Hilbert-sorted files touch spatially compact runs (no Z-curve jumps
# across the domain). Classic per-level rotate-reflect formulation (public
# algorithm; see e.g. Hamilton, "Compact Hilbert Indices", 2006), expressed
# as ONE aggregate() higher-order expression that loops the (x, y, d)
# 3-register state over the bit levels AT RUNTIME. An unrolled
# chained-projection form was tried first and abandoned: with foldable
# (literal) inputs, CollapseProject inlines every level's state into the
# next before constant folding can catch up, and the expression tree grows
# ~3x per level (measured: order 8 = 1.4 s, order 10 = 11 s to plan a
# 1-row query; order 16 = hours). The HOF form keeps the plan O(1) in
# `order` for any input shape. Pure JVM bit arithmetic, no UDF.

HILBERT_ORDER = 16        # bits per axis; code uses 2x16 = 32 bits
HILBERT_BIAS = 1 << 15    # shifts negative grid coords into [0, 2^16)


def _hilbert_guard(v: Column, axis: str, order: int) -> Column:
    bias = 1 << (order - 1)
    return F.when((v >= 0) & (v < F.lit(1 << order)), v).otherwise(
        F.raise_error(F.concat(
            F.lit(f"hilbert_cell: {axis} grid coordinate out of "
                  f"[-2^{order - 1}, 2^{order - 1}) domain: "),
            (v - F.lit(bias)).cast("string"))))


def with_hilbert(df, x: Column, y: Column, res: float, out: str = "hcode",
                 order: int = HILBERT_ORDER):
    """Add a Hilbert code column for point (x, y) at grid resolution res.

    Takes and returns a DataFrame (unlike morton_cell's pure-Column form)
    because the guarded grid coordinates must land in a named projection
    that the single aggregate() recurrence expression then references by
    name — one substitution site each, so no inlining blowup is possible
    for any input shape (see the module comment).
    """
    bias = 1 << (order - 1)
    n = 1 << order
    hx, hy = f"__{out}_x", f"__{out}_y"
    df = df.withColumns({
        hx: _hilbert_guard(
            F.floor(x / F.lit(res)).cast("long") + F.lit(bias), "x", order),
        hy: _hilbert_guard(
            F.floor(y / F.lit(res)).cast("long") + F.lit(bias), "y", order),
    })
    # ry=1: no rotation; ry=0,rx=0: swap; ry=0,rx=1: reflect+swap
    recurrence = f"""
      aggregate(
        sequence({order - 1}, 0, -1),
        named_struct('x', `{hx}`, 'y', `{hy}`, 'd', CAST(0 AS BIGINT)),
        (acc, i) -> named_struct(
          'x', CASE WHEN (shiftright(acc.y, i) & 1) = 1 THEN acc.x
                    WHEN (shiftright(acc.x, i) & 1) = 0 THEN acc.y
                    ELSE {n - 1} - acc.y END,
          'y', CASE WHEN (shiftright(acc.y, i) & 1) = 1 THEN acc.y
                    WHEN (shiftright(acc.x, i) & 1) = 0 THEN acc.x
                    ELSE {n - 1} - acc.x END,
          'd', acc.d + shiftleft(
            CAST(((shiftright(acc.x, i) & 1) * 3) ^ (shiftright(acc.y, i) & 1)
                 AS BIGINT), 2 * i)),
        acc -> acc.d)"""
    return df.withColumn(out, F.expr(recurrence)).drop(hx, hy)


def hilbert_parent(code: Column, levels_up: int) -> Column:
    """Ancestor quadrant id: contiguity of Hilbert quadrants makes the
    parent a pure right-shift, exactly like morton_parent."""
    return F.shiftright(code, 2 * levels_up)


def hilbert_range(parent: Column, levels_up: int) -> Column:
    """struct(lo, hi): half-open code range of every descendant — sargable
    (reaches PushedFilters) AND spatially compact (one connected region
    per range, unlike a Z-curve range which can jump across the domain)."""
    lo = F.shiftleft(parent, 2 * levels_up)
    hi = F.shiftleft(parent + F.lit(1), 2 * levels_up)
    return F.struct(lo.alias("lo"), hi.alias("hi"))


def hilbert_xy2d(x: int, y: int, order: int = HILBERT_ORDER) -> int:
    """Driver/test-side reference implementation (unbiased helper for
    tests; plans use with_hilbert)."""
    d = 0
    n = 1 << order
    for i in range(order - 1, -1, -1):
        rx = (x >> i) & 1
        ry = (y >> i) & 1
        d += ((3 * rx) ^ ry) << (2 * i)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
    return d


def hilbert_duck_sql(src: str, order: int = HILBERT_ORDER,
                     x: str = "x", y: str = "y", res: float = 1.0) -> str:
    """Independent DuckDB re-derivation of the Hilbert encoding: the same
    rotate-reflect recurrence unrolled as chained CTE levels (DuckDB
    dialect: xor() function, :: casts). `src` must expose columns x, y."""
    bias = 1 << (order - 1)
    n = 1 << order
    sql = [f"l{order} AS (SELECT "
           f"CAST(FLOOR({x} / {res}) AS BIGINT) + {bias} AS hx, "
           f"CAST(FLOOR({y} / {res}) AS BIGINT) + {bias} AS hy, "
           f"CAST(0 AS BIGINT) AS hd FROM {src})"]
    for i in range(order - 1, -1, -1):
        sql.append(
            f"l{i} AS (SELECT "
            f"CASE WHEN ((hy >> {i}) & 1) = 1 THEN hx "
            f"     WHEN ((hx >> {i}) & 1) = 0 THEN hy "
            f"     ELSE {n - 1} - hy END AS hx, "
            f"CASE WHEN ((hy >> {i}) & 1) = 1 THEN hy "
            f"     WHEN ((hx >> {i}) & 1) = 0 THEN hx "
            f"     ELSE {n - 1} - hx END AS hy, "
            f"hd + (xor(((hx >> {i}) & 1) * 3, (hy >> {i}) & 1) << {2 * i}) "
            f"AS hd FROM l{i + 1})")
    return ",\n".join(sql)


def salted(key: Column, salt_buckets: int) -> Column:
    """Skew-salting helper: deterministic salt from the row content hash.
    Heavy side: groupBy(key, salt) partial agg; light side: explode 0..K-1."""
    return F.pmod(F.hash(key), F.lit(salt_buckets))


def salted_join(heavy, light, on: list[str], salt_buckets: int = 16,
                how: str = "inner", salt_src: str | None = None,
                shuffle: bool = False):
    """Skew-salted equi-join (north rule: salted shuffles on
    (cell_id, tile_id)): the heavy side gets a deterministic salt from a
    row-content hash, the light side is exploded x salt_buckets, and the
    join key becomes (on..., salt) — a hot key's rows spread over
    salt_buckets reducers instead of one. Result set identical to
    heavy.join(light, on, how) for how in {inner, left, left_semi,
    left_anti, cross}: every heavy row carries exactly one salt and the
    light side covers all salts (equality + oracle-checked in the driver
    gate as cell_join_salted). how in {right, full} is REJECTED — an
    unmatched light row appears once per salt bucket under this rewrite,
    so those shapes are not semantics-preserving.

    Use when a key's row count is pathological enough that AQE skew
    splitting can't save the build side (e.g. a mega-city cell in a
    detections x references join). salt_src names the heavy column to hash
    for the salt (defaults to the first join key — spreads rows of the SAME
    hot key only if salt_src has per-row variety, so pass something like a
    row id / x-coordinate)."""
    if how.lower().replace("_", "") not in (
            "inner", "left", "leftouter", "semi", "leftsemi", "anti",
            "leftanti", "cross"):
        raise ValueError(
            f"salted_join does not preserve {how!r} semantics: the light "
            "side is exploded x salt_buckets, so unmatched light rows would "
            "be emitted once per bucket; use a plain join for right/full")
    src = salt_src or on[0]
    h = heavy.withColumn("_salt", salted(F.col(src), salt_buckets))
    li = light.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))))
    if shuffle:
        # force the shuffled-hash strategy so the (on..., salt) key actually
        # drives the exchange — otherwise Catalyst broadcasts a small light
        # side and the salting is a no-op (fine in production, useless for
        # demonstrating/testing the spread)
        li = li.hint("shuffle_hash")
    return h.join(li, on + ["_salt"], how).drop("_salt")
