"""Per-tile gap detection + edge statistics as Spark operators.

Re-expresses gap_detection (/root/reference/R/gap_detection.R:142-228) as a
zero-shuffle mapInPandas stage: one tile row in, one row per detected gap
out (gap_id, pixel count, surface), plus optional re-encoded label layers.

detect_gaps_global adds the cross-tile merge (SURVEY.md §7 "hard parts"):
halo-padded per-tile labeling, border-strip equivalence edges between
adjacent tiles, distributed min-label propagation to connected components,
then a global re-aggregation + surface filter — so a gap spanning many tiles
is counted once with its true total surface, exactly like running the
reference on the stitched mosaic (given halo >= the morphological support,
the same chunk-buffer contract as the reference's >= 20 m gap buffer
warning, gap_detection.R:100-101).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GAPS_SCHEMA = ("image_id string, gap_id long, n_pixels long, surface double, "
               "touches_border boolean")

GAP_PARAMS = dict(
    res=0.5, ratio=2.0, gap_max_height=1.0, min_gap_surface=25.0,
    max_gap_surface=float("inf"), closing_height_bin=1.0,
    nl_filter="Median", nl_size=3, gap_reconstruct=False,
)


def detect_gaps(tiles: DataFrame, params: dict | None = None) -> DataFrame:
    p = {**GAP_PARAMS, **(params or {})}
    padded = "pad" in tiles.columns
    cols = ["image_id", "bytes", "w", "h", "fmt"] + (["pad"] if padded else [])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        from lidartree_spark.codecs import decode_tile
        from lidartree_spark.kernels.gaps import gap_detection
        for pdf in batches:
            out = []
            for rec in pdf.itertuples(index=False):
                chm = decode_tile(rec.bytes, rec.fmt, rec.w, rec.h)
                g = gap_detection(
                    chm, res=p["res"], ratio=p["ratio"],
                    gap_max_height=p["gap_max_height"],
                    min_gap_surface=p["min_gap_surface"],
                    max_gap_surface=p["max_gap_surface"],
                    closing_height_bin=p["closing_height_bin"],
                    nl_filter=p["nl_filter"], nl_size=p["nl_size"],
                    gap_reconstruct=p["gap_reconstruct"])
                lab = g["gap_id"].astype(np.int64)
                pad = int(getattr(rec, "pad", 0))
                core = lab[pad:lab.shape[0] - pad or None,
                           pad:lab.shape[1] - pad or None]
                ids, counts = np.unique(core[core > 0], return_counts=True)
                h_c, w_c = core.shape
                for gid, n in zip(ids.tolist(), counts.tolist()):
                    mask = core == gid
                    border = bool(mask[0, :].any() or mask[-1, :].any()
                                  or mask[:, 0].any() or mask[:, -1].any())
                    out.append({
                        "image_id": rec.image_id, "gap_id": int(gid),
                        "n_pixels": int(n),
                        "surface": n * p["res"] * p["res"],
                        "touches_border": border,
                    })
            yield pd.DataFrame(out, columns=["image_id", "gap_id", "n_pixels",
                                             "surface", "touches_border"])

    return tiles.select(*cols).mapInPandas(run, schema=GAPS_SCHEMA)


_LABELED_SCHEMA = ("image_id string, kind string, gap_id long, n_pixels long, "
                   "edge string, pos int")


# Symmetrized edge rows at or below which the engine's own CC calls resolve
# components with the driver union-find instead of distributed rounds.
CC_DRIVER_THRESHOLD = 2_000_000


def connected_components(pairs: DataFrame, max_iters: int = 25,
                         driver_threshold: int = 0) -> DataFrame:
    """Distributed connected components over (a, b) string-node edges by
    min-label propagation: comp(v) <- min(comp(v), min over neighbors) until
    fixpoint. Converges in O(component diameter) rounds — for cross-tile
    gaps the diameter is the tile-span of the largest gap, so a handful of
    rounds; each round is one shuffle join. Fully distributed (no
    driver-side union-find), which is what survives 10^12 tiles where the
    edge set itself can be billions of rows. Returns (node, comp).

    driver_threshold > 0 enables a hybrid: if 2x the raw pair-row count —
    a shuffle-free upper bound on the symmetrized distinct edge count, so
    up to ~threshold/2 undirected input pairs — is at or below it, the
    edges are collected and resolved with a driver-side union-find: one
    job instead of O(diameter) rounds. The same small-side-materialization
    tradeoff Catalyst makes for broadcast joins; the min-label result is
    identical because the component representative is the lexicographic
    min node either way."""
    raw = pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
    raw_cached = False
    if driver_threshold > 0:
        # Cheap pre-guard: |symmetrized distinct edges| <= 2 * |raw|, and
        # raw.count() is a shuffle-free scan — so when the edge set is big
        # the hybrid neither pays the distinct shuffle nor materializes a
        # single row on the driver. (The previous limit+collect probe
        # pulled up to threshold+1 padded-string Rows — hundreds of MB —
        # onto the driver just to DECIDE, a driver-OOM risk near the
        # threshold.) raw is persisted across count + collect so the
        # upstream pair-producing lineage (often a join chain) runs once.
        raw = raw.persist()
        raw_cached = True
        if 2 * raw.count() <= driver_threshold:
            sample = (raw.union(raw.select(F.col("v").alias("u"),
                                           F.col("u").alias("v")))
                      .distinct().collect())
            raw.unpersist()
            parent: dict[str, str] = {}

            def find(x: str) -> str:
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while parent.get(x, x) != x:
                    parent[x], x = root, parent[x]
                return root

            for r in sample:
                ra, rb = find(r.u), find(r.v)
                if ra != rb:
                    # min-root keeps parity with min-label propagation
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
            nodes = {x for r in sample for x in (r.u, r.v)}
            if not nodes:
                return pairs.sparkSession.createDataFrame(
                    [], "node string, comp string")
            return pairs.sparkSession.createDataFrame(
                pd.DataFrame([{"node": x, "comp": find(x)}
                              for x in sorted(nodes)]))
    # Partition-local contraction: run a union-find over each partition's
    # edge slice (memory-bounded by that partition's node count) and emit
    # one (node, local-min-root) star edge per node. CC over the stars
    # equals CC over the originals — each partition's spanning structure is
    # preserved through its star — but every locally-connected subgraph
    # collapses to depth 1, so the distributed loop below only has to
    # resolve CROSS-partition chains: rounds drop from O(log diameter) to
    # O(log #partitions-a-component-spans). This is the map-side-combine
    # analog for graphs; at 10^12 tiles it also shrinks the loop's edge set
    # from |E| to <= #distinct (node, partition) rows. The contraction maps
    # over the RAW pair rows — union-find needs neither symmetrized nor
    # deduped input — so no shuffle happens before it at all.
    def _contract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        seen: set[str] = set()
        for pdf in batches:
            for u, v in zip(pdf["u"], pdf["v"]):
                seen.add(u)
                seen.add(v)
                ru, rv = find(u), find(v)
                if ru != rv:
                    lo, hi = (ru, rv) if ru < rv else (rv, ru)
                    parent[hi] = lo
        if seen:
            yield pd.DataFrame({"u": sorted(seen)}).assign(
                v=lambda d: d["u"].map(find))

    stars = raw.mapInPandas(_contract, "u string, v string").persist()
    loop_edges = (stars.union(stars.select(F.col("v").alias("u"),
                                           F.col("u").alias("v")))
                  .distinct()
                  .persist())
    # seed labels from the stars themselves (a node split across partitions
    # takes the min of its local roots): every locally-resolved component
    # starts already converged, so the loop's first round is pure
    # verification (changed == 0) unless a component spans partitions
    labels = (stars.groupBy(F.col("u").alias("node"))
              .agg(F.min("v").alias("comp"))
              .persist())
    labels.count()
    if raw_cached:
        # the pre-guard's cache has served the contraction; the loop below
        # works on stars/labels only
        raw.unpersist()
    changed = 0
    for _ in range(max_iters):
        neigh = (loop_edges.join(labels.withColumnRenamed("node", "v")
                            .withColumnRenamed("comp", "vcomp"), "v")
                 .groupBy("u").agg(F.min("vcomp").alias("ncomp"))
                 .withColumnRenamed("u", "node"))
        hop = (labels.join(neigh, "node", "left")
               .select("node",
                       F.least("comp", F.coalesce("ncomp", "comp"))
                       .alias("comp")))
        # pointer jumping: comp <- comp(comp) each round (labels joined to
        # themselves on the representative), so convergence is
        # O(log diameter) instead of O(diameter) — a 10^6-tile corridor gap
        # resolves in ~20 rounds, not 10^6
        # lazy checkpoint: lineage still truncates (no plan blow-up across
        # rounds) but materialization happens inside the convergence count —
        # one job per round instead of two
        new = (hop.join(hop.select(F.col("node").alias("comp"),
                                   F.col("comp").alias("jcomp")),
                        "comp", "left")
               .select("node",
                       F.least("comp", F.coalesce("jcomp", "comp"))
                       .alias("comp"))
               .localCheckpoint(eager=False))
        changed = (new.alias("n")
                   .join(labels.alias("o"), "node")
                   .where("n.comp != o.comp").count())
        labels.unpersist()
        labels = new
        if changed == 0:
            break
    stars.unpersist()
    loop_edges.unpersist()
    if changed != 0:
        import warnings
        warnings.warn(
            f"connected_components hit max_iters={max_iters} with "
            f"{changed} labels still changing — components wider than the "
            "iteration budget would be split; raise max_iters",
            RuntimeWarning, stacklevel=2)
    return labels


def detect_gaps_global(tiles: DataFrame, params: dict | None = None,
                       halo_px: int = 16) -> DataFrame:
    """Corpus-wide gap detection with exact cross-tile label merge.

    Stages: (1) halo exchange; (2) per-tile labeling on the padded array,
    cropped to core — with `max_height` pinned so every tile runs the same
    height-bin ladder; (3) one mapInPandas pass emits per-gap pixel counts
    AND the four core border strips (only gap pixels); (4) adjacent border
    strips join on the shared boundary key -> label-equivalence edges;
    (5) min-label propagation -> global component ids; (6) global
    re-aggregation and the reference's surface filter
    (gap_detection.R:222-224) applied on TRUE total surfaces.

    Output: (gap_key, n_pixels, surface, n_tiles). halo_px must cover the
    closing-disk support for the tallest height bin — the reference's own
    >= 20 m buffer contract (gap_detection.R:100-101).
    """
    from lidartree_spark.operators.halo import with_halo

    # default max_height = 60.0: the reference ladder runs to
    # min(max(chm), 60) (gap_detection.R:166-169); pinning the corpus-wide
    # bound at 60 preserves mosaic parity for ANY corpus because bins above
    # the true canopy max close all-zero binaries — exact no-ops that the
    # kernel short-circuits (kernels/gaps.py) — whereas a lower pin (e.g.
    # 20 on a 35 m canopy) silently truncates the ladder
    p = {**GAP_PARAMS, "max_height": 60.0, **(params or {})}
    min_surf, max_surf = p["min_gap_surface"], p["max_gap_surface"]
    res = p["res"]
    padded = with_halo(tiles, halo_px)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        from lidartree_spark.codecs import decode_tile
        from lidartree_spark.kernels.gaps import gap_detection
        for pdf in batches:
            out = []
            for rec in pdf.itertuples(index=False):
                chm = decode_tile(rec.bytes, rec.fmt, rec.w, rec.h)
                g = gap_detection(
                    chm, res=res, ratio=p["ratio"],
                    gap_max_height=p["gap_max_height"],
                    # keep every label: the surface filter must run on the
                    # GLOBAL surface after the merge, not per tile
                    min_gap_surface=0.0, max_gap_surface=float("inf"),
                    closing_height_bin=p["closing_height_bin"],
                    nl_filter=p["nl_filter"], nl_size=p["nl_size"],
                    gap_reconstruct=p["gap_reconstruct"],
                    max_height=p["max_height"])
                lab = g["gap_id"].astype(np.int64)
                pad = int(getattr(rec, "pad", 0))
                core = lab[pad:lab.shape[0] - pad or None,
                           pad:lab.shape[1] - pad or None]
                ids, counts = np.unique(core[core > 0], return_counts=True)
                for gid, n in zip(ids.tolist(), counts.tolist()):
                    out.append({"image_id": rec.image_id, "kind": "gap",
                                "gap_id": int(gid), "n_pixels": int(n),
                                "edge": None, "pos": None})
                for edge, strip in (("n", core[0, :]), ("s", core[-1, :]),
                                    ("w", core[:, 0]), ("e", core[:, -1])):
                    for pos in np.nonzero(strip)[0]:
                        out.append({"image_id": rec.image_id,
                                    "kind": "border",
                                    "gap_id": int(strip[pos]),
                                    "edge": edge, "pos": int(pos),
                                    "n_pixels": 0})
            yield pd.DataFrame(out, columns=["image_id", "kind", "gap_id",
                                             "n_pixels", "edge", "pos"])

    labeled = padded.mapInPandas(run, schema=_LABELED_SCHEMA).persist()
    gaps = labeled.where("kind = 'gap'")
    # the shared regex+raise parse policy (operators/grid._tile_part):
    # a truncated fixed-position parse would build colliding boundary
    # keys that merge gaps across unrelated tile pairs
    from lidartree_spark.operators.grid import tile_col, tile_row
    borders = (labeled.where("kind = 'border'")
               .withColumn("r", tile_row(F.col("image_id")))
               .withColumn("c", tile_col(F.col("image_id")))
               .withColumn("node", F.concat_ws("|", "image_id", "gap_id")))
    # boundary keys: vertical boundary ('v', r, c) sits between (r, c) and
    # (r, c+1); horizontal ('h', r, c) between (r, c) and (r+1, c). Array
    # row 0 = top = north; e/w strips index by array row, n/s by column —
    # facing strips share the same pos.
    side_a = borders.where("edge IN ('e', 'n')").select(
        F.when(F.col("edge") == "e", F.concat_ws("_", F.lit("v"), "r", "c"))
        .otherwise(F.concat_ws("_", F.lit("h"), "r", "c")).alias("bkey"),
        "pos", F.col("node").alias("a"))
    side_b = borders.where("edge IN ('w', 's')").select(
        F.when(F.col("edge") == "w",
               F.concat_ws("_", F.lit("v"), "r", F.col("c") - 1))
        .otherwise(F.concat_ws("_", F.lit("h"), F.col("r") - 1, "c"))
        .alias("bkey"),
        "pos", F.col("node").alias("b"))
    pairs = (side_a.join(side_b, ["bkey", "pos"])
             .select("a", "b").distinct())

    # hybrid CC: cross-border gap edges are O(border gap pixels) — tiny
    # relative to the corpus — so the driver union-find path almost always
    # wins; past the threshold it degrades to distributed propagation
    comp = connected_components(pairs, driver_threshold=CC_DRIVER_THRESHOLD)
    merged = (gaps
              .withColumn("node", F.concat_ws("|", "image_id", "gap_id"))
              .join(comp, "node", "left")
              .withColumn("gap_key", F.coalesce("comp", "node"))
              .groupBy("gap_key")
              .agg(F.sum("n_pixels").alias("n_pixels"),
                   F.countDistinct("image_id").alias("n_tiles"))
              .withColumn("surface",
                          F.col("n_pixels") * F.lit(res * res))
              .where((F.col("surface") >= min_surf)
                     & (F.col("surface") <= max_surf))
              .select("gap_key", "n_pixels", "surface", "n_tiles"))
    return merged
