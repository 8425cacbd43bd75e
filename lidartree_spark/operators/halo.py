"""Buffered-tile (halo) exchange: give every tile a strip of its 8 neighbors
so border crowns see their full context — the distributed re-expression of
the reference's chunk buffer (lidR catalog buffer >= 10 m warning,
/root/reference/R/tree_detection.R:114-115; crop-to-core dedup :160-165).

Scale design: tiles only ship their BORDER STRIPS (O(halo * perimeter) bytes,
not O(tile) x 9), keyed by the receiving tile id. One hash shuffle on that
key, rows sorted by it within each partition, then a batched grouped map
(operators.matching.whole_groups): group boundaries are found by slicing
each Arrow batch, so a tile costs a numpy slice, not an Arrow round trip.
At 10^12 tiles the shuffle volume is halo_px/tile_w (~25% at 16/64) of the
corpus, and the subsequent detection stays embarrassingly parallel. Missing
neighbors (corpus edge) are filled by edge replication, matching the
reference's padding semantics (tree_detection.R:315-333).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

PADDED_SCHEMA = ("image_id string, bytes binary, w int, h int, fmt string, "
                 "pad int")

_PART_SCHEMA = ("target string, part string, bytes binary, w int, h int")


def with_halo(tiles: DataFrame, halo_px: int = 16) -> DataFrame:
    """tiles -> padded tiles of (h + 2*halo, w + 2*halo) raw_f32 payloads.

    Grid convention (generator): image_id = t{row}_{col}; row+1 is NORTH
    (larger y), array row 0 is the TOP (max y) of each tile.
    """
    p = halo_px

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        from lidartree_spark.codecs import decode_tile, encode_tile
        from lidartree_spark.generator import parse_tile_id
        for pdf in batches:
            out = []
            for rec in pdf.itertuples(index=False):
                arr = decode_tile(rec.bytes, rec.fmt, rec.w, rec.h)
                r, c = parse_tile_id(rec.image_id)

                def tid(rr, cc):
                    return f"t{rr:04d}_{cc:04d}"

                # self
                out.append({"target": rec.image_id, "part": "self",
                            "bytes": rec.bytes if rec.fmt == "raw_f32"
                            else encode_tile(arr, "raw_f32"),
                            "w": rec.w, "h": rec.h})
                # strips: which slice of THIS tile lands in the halo of the
                # neighbor in direction (dr, dc). dr=+1 -> neighbor north.
                strips = {
                    # neighbor is north of us: it needs our TOP rows as its
                    # SOUTH halo -> from its perspective part="s"
                    (1, 0): ("s", arr[:p, :]),
                    (-1, 0): ("n", arr[-p:, :]),
                    (0, 1): ("w", arr[:, -p:]),
                    (0, -1): ("e", arr[:, :p]),
                    (1, 1): ("sw", arr[:p, -p:]),
                    (1, -1): ("se", arr[:p, :p]),
                    (-1, 1): ("nw", arr[-p:, -p:]),
                    (-1, -1): ("ne", arr[-p:, :p]),
                }
                for (dr, dc), (part, sub) in strips.items():
                    rr, cc = r + dr, c + dc
                    # no upper bound: ids are min-width (t10000_0000 is
                    # valid); strips addressed to tiles absent from the
                    # corpus are dropped in assemble (no "self" part)
                    if rr < 0 or cc < 0:
                        continue
                    out.append({"target": tid(rr, cc), "part": part,
                                "bytes": encode_tile(
                                    np.ascontiguousarray(sub), "raw_f32"),
                                "w": sub.shape[1], "h": sub.shape[0]})
            yield pd.DataFrame(out, columns=["target", "part", "bytes",
                                             "w", "h"])

    parts = (tiles.select("image_id", "bytes", "w", "h", "fmt")
             .mapInPandas(emit, schema=_PART_SCHEMA)
             .repartition("target")
             .sortWithinPartitions("target"))

    def assemble(rows: dict) -> dict | None:
        import numpy as np
        from lidartree_spark.codecs import decode_tile, encode_tile
        if "self" not in rows:
            # halo strips arriving for a tile absent from the corpus
            return None
        s = rows["self"]
        core = decode_tile(s.bytes, "raw_f32", s.w, s.h)
        h, w = core.shape
        out = np.pad(core, p, mode="edge")
        placing = {
            "n": (slice(0, p), slice(p, p + w)),
            "s": (slice(p + h, p + h + p), slice(p, p + w)),
            "w": (slice(p, p + h), slice(0, p)),
            "e": (slice(p, p + h), slice(p + w, p + w + p)),
            "nw": (slice(0, p), slice(0, p)),
            "ne": (slice(0, p), slice(p + w, p + w + p)),
            "sw": (slice(p + h, p + h + p), slice(0, p)),
            "se": (slice(p + h, p + h + p), slice(p + w, p + w + p)),
        }
        for part, rec in rows.items():
            if part == "self":
                continue
            sub = decode_tile(rec.bytes, "raw_f32", rec.w, rec.h)
            out[placing[part]] = sub
        # Corpus-edge fill must equal MOSAIC edge replication, not per-tile
        # replication: on a rectangular corpus the real blocks form a
        # rectangle, and every missing cell is its 2D clamp into that
        # rectangle. The per-tile np.pad above gets corners wrong when a
        # straight neighbor exists but the diagonal does not (e.g. a tile
        # on the corpus's north edge with a real east neighbor: the NE
        # block must replicate the EAST strip's top row — the mosaic's
        # row 0 — not this tile's own corner pixel). Caught by the
        # gap_merge_mosaic oracle gate (1-px label drift at the corner).
        r0 = 0 if "n" in rows else p
        r1 = p + h + (p if "s" in rows else 0)
        c0 = 0 if "w" in rows else p
        c1 = p + w + (p if "e" in rows else 0)
        idx_r = np.clip(np.arange(h + 2 * p), r0, r1 - 1)
        idx_c = np.clip(np.arange(w + 2 * p), c0, c1 - 1)
        out = out[np.ix_(idx_r, idx_c)]
        return {"image_id": s.target,
                "bytes": encode_tile(out.astype(np.float32), "raw_f32"),
                "w": w + 2 * p, "h": h + 2 * p, "fmt": "raw_f32", "pad": p}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from lidartree_spark.operators.matching import whole_groups
        for pdf, starts in whole_groups(batches, "target"):
            recs = list(pdf.itertuples(index=False))
            out = [assemble({rec.part: rec for rec in recs[a:b]})
                   for a, b in zip(starts[:-1], starts[1:])]
            yield pd.DataFrame([o for o in out if o is not None],
                               columns=["image_id", "bytes", "w", "h", "fmt",
                                        "pad"])

    return parts.mapInPandas(run, schema=PADDED_SCHEMA)
