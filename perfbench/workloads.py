"""The workloads' operations, their seeded parameters and their oracles.

Each operation is one terminal action of the engine.  ``params`` draws its
inputs from the run's seeded generator; ``expect`` computes the oracle's
answer without the engine (numpy over the fixture arrays, plain pyarrow
over stored tables); ``run`` performs the action inside the tracer's
spans; ``check`` compares; ``probes`` are the traced run's extra
per-layer calls, made after the operation as sibling spans so the
operation's own span stays comparable with the untraced run.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

STRIP_ROWS = 512
HAB_CLASSES = 20
EARTH_R_M = 6_371_008.8
PIP_RES = 6
KNN_RES = 6
KNN_K = 10
# Query mix of the kNN workload: (name, share).  The polar/antimeridian and
# empty-region queries make the fallback planner run on every call; their
# shares are small because each remote query adds to the fallback pass and
# the whole cycle has to fit the run.
KNN_MIX = (("uniform", 0.6), ("hotspot", 0.3), ("polar_antimeridian", 0.05),
           ("empty_region", 0.05))
DUP_DOCS = 64


@dataclass
class Ctx:
    """Everything an operation needs, opened once per session."""

    spark: Any
    fx: Any
    tracer: Any
    out_dir: str
    arrays: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    mosaic_paths: list = field(default_factory=list)
    pages_df: Any = None
    docs_df: Any = None
    page_lat: Any = None
    page_lng: Any = None
    docs_pdf: Any = None


@dataclass
class Op:
    name: str
    unit: str  # "mpx" (output megapixels) or "rows" (input rows)
    params: Callable  # (rng, ctx) -> dict
    expect: Callable  # (ctx, p) -> expected answer
    run: Callable  # (ctx, p) -> result
    check: Callable  # (ctx, p, result) -> None or a mismatch description
    work: Callable  # (ctx, p) -> units of work
    probes: Callable | None = None  # (ctx, p, result) -> {metric: value}


def _file_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


# -- raster ops ----------------------------------------------------------------

def _mpx(ctx: Ctx, _p=None) -> float:
    return ctx.arrays["qty"].size / 1e6


def _strip_y(rng, ctx: Ctx) -> int:
    """Top row of the seeded strip the driver-side kernel probe evaluates."""
    return int(rng.integers(0, max(ctx.fx.scale.rows // STRIP_ROWS, 1))) * STRIP_ROWS


def _raster_probes(ctx: Ctx, p: dict, expr, out_path: str | None = None) -> dict:
    """Planning-only, noop-write, driver-kernel and parquet-metadata calls
    for one raster expression."""
    from yirgacheffe_spark.plans import executor, kernel
    from yirgacheffe_spark.sources import parquet

    tr, spark = ctx.tracer, ctx.spark
    out: dict[str, float] = {}
    with tr.span("executor.plan") as s:
        executor.tiles_dataframe(expr, spark)
    out["executor.plan_s"] = s["end"] - s["start"]
    with tr.span("executor.noop") as s:
        executor.tiles_dataframe(expr, spark).write.format("noop").mode("overwrite").save()
    out["executor.noop_s"] = s["end"] - s["start"]
    width = ctx.arrays["qty"].shape[1]
    y0 = p.get("strip_y", 0)
    with tr.span("kernel.strip") as s:
        kernel.evaluate_window(expr, 0, y0, width, STRIP_ROWS)
    out["kernel.mpx_per_s"] = width * STRIP_ROWS / 1e6 / (s["end"] - s["start"])
    paths = p["leaves"]
    with tr.span("parquet.open") as s:
        for path in paths:
            parquet.ParquetRasterLayer(path)
    out["parquet.open_s"] = s["end"] - s["start"]
    with tr.span("parquet.manifest") as s:
        for path in paths:
            parquet.read_tile_manifest(path)
    out["parquet.manifest_s"] = s["end"] - s["start"]
    files = [os.path.join(path, f) for path in paths for f in sorted(os.listdir(path))
             if f.endswith(".parquet")]
    with tr.span("parquet.footer") as s:
        for f in files:
            parquet.row_group_tile_stats(f)
    out["parquet.footer_s"] = s["end"] - s["start"]
    out["parquet.bytes"] = float(sum(_file_bytes(path) for path in paths)
                                 + (_file_bytes(out_path) if out_path else 0))
    return out


def _aoh_expr(ctx: Ctx, p: dict):
    r = ctx.layers
    return (r["hab"].isin([float(c) for c in p["classes"]])
            * ((r["elev"] >= p["lo"]) & (r["elev"] <= p["hi"]))
            * r["qty"])


def _build(ctx: Ctx, make):
    """Builds an expression and resolves its extent (the operators layer)."""
    with ctx.tracer.span("operators.build"):
        expr = make()
        _ = expr.window, expr.area
    return expr


def _action(ctx: Ctx, fn):
    with ctx.tracer.span("executor.action"):
        return fn()


def _eq(got, want) -> str | None:
    return None if got == want else f"got {got!r}, want {want!r}"


def aoh_sum() -> Op:
    def params(rng, ctx):
        lo = int(rng.integers(100, 600))
        return {"classes": sorted(rng.choice(HAB_CLASSES, 4, replace=False).tolist()),
                "lo": lo, "hi": lo + int(rng.integers(150, 400)),
                "leaves": [ctx.layers[c].path for c in ("hab", "elev", "qty")],
                "strip_y": _strip_y(rng, ctx)}

    def expect(ctx, p):
        a = ctx.arrays
        mask = np.isin(a["hab"], p["classes"]) & (a["elev"] >= p["lo"]) & (a["elev"] <= p["hi"])
        return float(np.sum(a["qty"][mask]))

    def run(ctx, p):
        expr = _build(ctx, lambda: _aoh_expr(ctx, p))
        return _action(ctx, lambda: expr.sum(spark=ctx.spark))

    return Op("aoh_sum", "mpx", params, expect, run,
              lambda ctx, p, got: _eq(float(got), p["expect"]), _mpx,
              lambda ctx, p, _r: _raster_probes(ctx, p, _aoh_expr(ctx, p)))


def conv_sum() -> Op:
    weights = np.ones((5, 5), dtype=np.float32)

    def params(rng, ctx):
        band = str(rng.choice(["qty", "elev", "hab"]))
        return {"band": band, "leaves": [ctx.layers[band].path],
                "strip_y": _strip_y(rng, ctx)}

    def cover(n: int) -> np.ndarray:
        """How many 5-wide windows centred in [0, n) cover each index."""
        i = np.arange(n)
        return np.minimum(i, 2) + np.minimum(i[::-1], 2) + 1

    def expect(ctx, p):
        # Sum of a zero-padded 5x5 box filter: each pixel is counted once
        # per output window that covers it.
        a = ctx.arrays[p["band"]]
        return float(cover(a.shape[0]) @ a @ cover(a.shape[1]))

    def run(ctx, p):
        expr = _build(ctx, lambda: ctx.layers[p["band"]].conv2d(weights))
        return _action(ctx, lambda: expr.sum(spark=ctx.spark))

    return Op("conv_sum", "mpx", params, expect, run,
              lambda ctx, p, got: _eq(float(got), p["expect"]), _mpx,
              lambda ctx, p, _r: _raster_probes(
                  ctx, p, ctx.layers[p["band"]].conv2d(weights)))


def unique() -> Op:
    def params(rng, ctx):
        return {"m": int(rng.integers(3, 17)), "leaves": [ctx.layers["hab"].path],
                "strip_y": _strip_y(rng, ctx)}

    def expect(ctx, p):
        return np.unique(ctx.arrays["hab"] % p["m"]).astype(np.float64).tolist()

    def run(ctx, p):
        expr = _build(ctx, lambda: ctx.layers["hab"] % p["m"])
        return _action(ctx, lambda: expr.unique(spark=ctx.spark))

    return Op("unique", "mpx", params, expect, run,
              lambda ctx, p, got: _eq(np.asarray(got, dtype=np.float64).tolist(), p["expect"]),
              _mpx, lambda ctx, p, _r: _raster_probes(ctx, p, ctx.layers["hab"] % p["m"]))


def mosaic_sum() -> Op:
    import yirgacheffe_spark as yg

    def params(rng, ctx):
        order = rng.permutation(len(ctx.mosaic_paths)).tolist()
        return {"leaves": [ctx.mosaic_paths[i] for i in order],
                "strip_y": _strip_y(rng, ctx)}

    def expect(ctx, _p):
        # The strips overlap with identical pixels, so the mosaic is the
        # qty raster whatever the compositing order.
        return float(np.sum(ctx.arrays["qty"]))

    def run(ctx, p):
        with ctx.tracer.span("group.open"):
            group = yg.GroupLayer.layer_from_files(p["leaves"], "mosaic")
        expr = _build(ctx, lambda: group)
        return _action(ctx, lambda: expr.sum(spark=ctx.spark))

    def probes(ctx, p, _r):
        return _raster_probes(ctx, p, yg.GroupLayer.layer_from_files(p["leaves"], "mosaic"))

    return Op("mosaic_sum", "mpx", params, expect, run,
              lambda ctx, p, got: _eq(float(got), p["expect"]), _mpx, probes)


_NP_DTYPES = {"Byte": np.uint8, "UInt8": np.uint8}


def read_saved_table(path: str) -> tuple[dict, np.ndarray, set]:
    """Decodes a saved raster table with plain pyarrow: (meta, pixels,
    stored tile keys).  Absent tiles read as zeros."""
    import json

    import pyarrow.parquet as pq

    with open(os.path.join(path, "_raster_meta.json"), encoding="utf-8") as fp:
        meta = json.load(fp)
    dtype = np.dtype(_NP_DTYPES.get(meta["dtype"], meta["dtype"].lower()))
    xsize = round((meta["right"] - meta["left"]) / meta["xstep"])
    ysize = round((meta["bottom"] - meta["top"]) / meta["ystep"])
    ts = meta["tile_size"]
    out = np.zeros((ysize, xsize), dtype=dtype)
    table = pq.read_table(path, columns=["tile_y", "tile_x", "ysize", "xsize", "payload"])
    keys = set()
    for ty, tx, h, w, payload in zip(*(table.column(c).to_pylist() for c in table.column_names)):
        out[ty * ts: ty * ts + h, tx * ts: tx * ts + w] = (
            np.frombuffer(payload, dtype=dtype).reshape(h, w))
        keys.add((ty, tx))
    return meta, out, keys


def _tile_keys(nonzero: np.ndarray, ts: int) -> set:
    h, w = nonzero.shape
    return {(ty, tx) for ty in range(math.ceil(h / ts)) for tx in range(math.ceil(w / ts))
            if nonzero[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts].any()}


def _check_saved(path: str, want: np.ndarray, sparse: bool) -> str | None:
    meta, got, keys = read_saved_table(path)
    if got.shape != want.shape:
        return f"shape {got.shape} != {want.shape}"
    if not np.array_equal(got.astype(np.float64), want.astype(np.float64)):
        return f"{int(np.sum(got != want))} pixels differ"
    if sparse:
        if meta.get("dense", True):
            return "sparse save wrote a dense table"
        stored = _tile_keys(want != 0, meta["tile_size"])
        if keys != stored:
            return f"stored tiles {sorted(keys)} != nonzero tiles {sorted(stored)}"
    return None


def save() -> Op:
    def make(ctx, p):
        return ctx.layers["qty"] * p["a"] + ctx.layers["elev"]

    def params(rng, ctx):
        return {"a": int(rng.integers(1, 4)),
                "leaves": [ctx.layers["qty"].path, ctx.layers["elev"].path],
                "strip_y": _strip_y(rng, ctx)}

    def expect(ctx, p):
        return ctx.arrays["qty"] * p["a"] + ctx.arrays["elev"]

    def run(ctx, p):
        expr = _build(ctx, lambda: make(ctx, p))
        path = os.path.join(ctx.out_dir, "save")
        _action(ctx, lambda: expr.save(path, spark=ctx.spark))
        return path

    return Op("save", "mpx", params, expect, run,
              lambda ctx, p, path: _check_saved(path, p["expect"], sparse=False), _mpx,
              lambda ctx, p, path: _raster_probes(ctx, p, make(ctx, p), path))


def save_sparse() -> Op:
    def params(rng, ctx):
        present = np.unique(ctx.arrays["hab"])
        return {"cls": int(rng.choice(present)), "leaves": [ctx.layers["hab"].path],
                "strip_y": _strip_y(rng, ctx)}

    def expect(ctx, p):
        return ctx.arrays["hab"] == p["cls"]

    def run(ctx, p):
        expr = _build(ctx, lambda: ctx.layers["hab"] == p["cls"])
        path = os.path.join(ctx.out_dir, "save_sparse")
        _action(ctx, lambda: expr.save(path, sparse=True, spark=ctx.spark))
        return path

    return Op("save_sparse", "mpx", params, expect, run,
              lambda ctx, p, path: _check_saved(path, p["expect"], sparse=True), _mpx,
              lambda ctx, p, path: _raster_probes(ctx, p, ctx.layers["hab"] == p["cls"], path))


# -- pages ops -----------------------------------------------------------------

PROBE_ROWS = 20_000


def _pages_probes(ctx: Ctx, p: dict) -> dict:
    """Driver-side rates of the pages functions on a fixed batch."""
    from yirgacheffe_spark.spatial import pages

    tr = ctx.tracer
    ids = np.arange(PROBE_ROWS, dtype=np.int64) + p["seed"]
    with tr.span("pages.synth") as s:
        batch = pages.synthesize_batch(ids, p["seed"])
    out = {"pages.synth_rows_per_s": PROBE_ROWS / (s["end"] - s["start"])}
    with tr.span("pages.extract") as s:
        pages.extract_text_batch(batch["html"])
    out["pages.extract_rows_per_s"] = PROBE_ROWS / (s["end"] - s["start"])
    with tr.span("pages.geocode") as s:
        pages.geocode_batch(batch["url"], p["seed"])
    out["pages.geocode_rows_per_s"] = PROBE_ROWS / (s["end"] - s["start"])
    return out


CELL_PROBE_POINTS = 200_000
DISK_PROBE_CALLS = 2_000


def _cells_probes(ctx: Ctx) -> dict:
    from yirgacheffe_spark.spatial import cells

    tr = ctx.tracer
    lat, lng = ctx.page_lat[:CELL_PROBE_POINTS], ctx.page_lng[:CELL_PROBE_POINTS]
    with tr.span("cells.assign") as s:
        ids = cells.latlng_to_cell(lat, lng, KNN_RES)
    out = {"cells.assign_rows_per_s": len(lat) / (s["end"] - s["start"])}
    picks = np.asarray(ids)[: DISK_PROBE_CALLS]
    with tr.span("cells.disk") as s:
        for c in picks:
            cells.grid_disk(int(c), 3)
    out["cells.disk_calls_per_s"] = len(picks) / (s["end"] - s["start"])
    return out


def enrich() -> Op:
    from pyspark.sql import functions as F

    def params(rng, ctx):
        return {"seed": int(rng.integers(1, 1 << 20)), "n": ctx.fx.scale.pages}

    def run(ctx, p):
        from yirgacheffe_spark.spatial import pages

        with ctx.tracer.span("pages.enriched_pages"):
            df = pages.enriched_pages(ctx.spark, p["n"], res=7, seed=p["seed"])
            row = df.agg(F.count(F.lit(1)).alias("n"),
                         F.sum((F.col("extracted") == F.col("text")).cast("long")).alias("same")
                         ).collect()[0]
        return (int(row["n"]), int(row["same"]))

    return Op("enrich", "rows", params, lambda ctx, p: (p["n"], p["n"]), run,
              lambda ctx, p, got: _eq(got, p["expect"]), lambda ctx, p: p["n"],
              lambda ctx, p, _r: _pages_probes(ctx, p))


def _rect_wkt(w, s, e, n) -> str:
    return f"POLYGON (({w} {s}, {e} {s}, {e} {n}, {w} {n}, {w} {s}))"


def pip_join() -> Op:
    from yirgacheffe_spark.spatial import pages

    def params(rng, ctx):
        rects = []
        for pid in range(1, 4):
            if rng.random() < 0.5:  # around a hotspot, where pages cluster
                lat0, lng0 = pages._HOTSPOTS[rng.integers(len(pages._HOTSPOTS))]  # noqa: SLF001
            else:
                lat0, lng0 = rng.uniform(-55, 70), rng.uniform(-175, 175)
            hw, hh = rng.uniform(1.0, 4.0), rng.uniform(1.0, 3.0)
            rects.append((pid, round(lng0 - hw, 4), round(lat0 - hh, 4),
                          round(lng0 + hw, 4), round(lat0 + hh, 4)))
        return {"rects": rects, "n": ctx.fx.scale.pages}

    def expect(ctx, p):
        lat, lng = ctx.page_lat, ctx.page_lng
        return {pid: int(np.sum((lng > w) & (lng < e) & (lat > s) & (lat < n)))
                for pid, w, s, e, n in p["rects"]}

    def run(ctx, p):
        from yirgacheffe_spark.spatial import joins

        polys = [{"poly_id": pid, "geom_wkt": _rect_wkt(w, s, e, n)}
                 for pid, w, s, e, n in p["rects"]]
        with ctx.tracer.span("joins.pip"):
            rows = (joins.point_in_polygon_join(ctx.spark, ctx.pages_df, polys, res=PIP_RES)
                    .groupBy("poly_id").count().collect())
        return {int(r["poly_id"]): int(r["count"]) for r in rows}

    def check(ctx, p, got):
        want = {k: v for k, v in p["expect"].items() if v}
        return _eq(got, want)

    def probes(ctx, p, got):
        out = _cells_probes(ctx)
        out["joins.pip_rows_out"] = float(sum(got.values()))
        return out

    return Op("pip_join", "rows", params, expect, run, check, lambda ctx, p: p["n"], probes)


def haversine_m(lat1, lng1, lat2, lng2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp, dl = p2 - p1, np.radians(lng2 - lng1)
    a = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * EARTH_R_M * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def knn_queries(rng, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(lat, lng, kind index into KNN_MIX) for ``n`` queries of the mix."""
    from yirgacheffe_spark.spatial import pages

    counts = [int(round(share * n)) for _, share in KNN_MIX]
    counts[0] += n - sum(counts)
    lat, lng, kind = [], [], []
    for k, c in enumerate(counts):
        name = KNN_MIX[k][0]
        if name == "uniform":
            la, lo = rng.uniform(-60, 75, c), rng.uniform(-180, 180, c)
        elif name == "hotspot":
            spots = pages._HOTSPOTS[rng.integers(len(pages._HOTSPOTS), size=c)]  # noqa: SLF001
            la = spots[:, 0] + rng.uniform(-2, 2, c)
            lo = spots[:, 1] + rng.uniform(-2, 2, c)
        elif name == "polar_antimeridian":
            half = c // 2
            la = np.concatenate([rng.uniform(80, 89.9, half) * rng.choice([-1, 1], half),
                                 rng.uniform(-55, 70, c - half)])
            lo = np.concatenate([rng.uniform(-180, 180, half),
                                 rng.choice([-1, 1], c - half) * rng.uniform(179.0, 179.999, c - half)])
        else:  # empty region: south of every page (pages span lat >= -60)
            la, lo = rng.uniform(-78, -63, c), rng.uniform(-180, 180, c)
        lat.append(la)
        lng.append(lo)
        kind.append(np.full(c, k))
    return np.concatenate(lat), np.concatenate(lng), np.concatenate(kind)


KNN_CHECK_OTHERS = 32


def knn_join() -> Op:
    def params(rng, ctx):
        lat, lng, kind = knn_queries(rng, ctx.fx.scale.knn_queries)
        remote = np.flatnonzero(kind >= 2)
        others = rng.choice(np.flatnonzero(kind < 2), KNN_CHECK_OTHERS, replace=False)
        return {"lat": lat, "lng": lng, "kind": kind,
                "check_ids": np.concatenate([remote, others]), "n": ctx.fx.scale.pages}

    def expect(ctx, p):
        out = {}
        for q in p["check_ids"]:
            d = haversine_m(p["lat"][q], p["lng"][q], ctx.page_lat, ctx.page_lng)
            out[int(q)] = np.sort(np.partition(d, KNN_K)[:KNN_K])
        return out

    def run(ctx, p):
        from yirgacheffe_spark.spatial import joins

        import pandas as pd

        qdf = ctx.spark.createDataFrame(pd.DataFrame({
            "query_id": np.arange(len(p["lat"]), dtype=np.int64),
            "lat": p["lat"], "lng": p["lng"]}))
        with ctx.tracer.span("joins.knn"):
            return joins.knn_join_df(ctx.spark, ctx.pages_df, qdf, k=KNN_K,
                                     res=KNN_RES).toPandas()

    def check(ctx, p, got):
        n_q = len(p["lat"])
        if len(got) != n_q * KNN_K or got["query_id"].nunique() != n_q:
            return f"{len(got)} rows over {got['query_id'].nunique()} queries"
        by_q = {q: np.sort(g["dist_m"].to_numpy()) for q, g in got.groupby("query_id")}
        bad = [q for q, want in p["expect"].items()
               if not np.allclose(by_q[q], want, rtol=1e-9, atol=1e-3)]
        return f"{len(bad)} queries differ from brute force, e.g. {bad[:3]}" if bad else None

    def probes(ctx, p, _got):
        from yirgacheffe_spark.spatial import joins

        out = _cells_probes(ctx)
        with ctx.tracer.span("joins.density") as s:
            joins.invalidate_density_cache()
            joins.band_density_profile(ctx.pages_df, KNN_RES)
        out["joins.density_s"] = s["end"] - s["start"]
        return out

    return Op("knn_join", "rows", params, expect, run, check, lambda ctx, p: p["n"], probes)


def _corpus(ctx: Ctx, p: dict):
    from pyspark.sql import functions as F

    base = ctx.docs_df
    dups = (base.where(F.col("doc_id").isin(p["dup_ids"]))
            .withColumn("doc_id", F.concat(F.col("doc_id"), F.lit("#dup"))))
    return base.unionByName(dups)


def minhash_lsh() -> Op:
    def params(rng, ctx):
        ids = ctx.docs_pdf["doc_id"].to_numpy()
        return {"dup_ids": sorted(rng.choice(ids, DUP_DOCS, replace=False).tolist()),
                "n": len(ids) + DUP_DOCS}

    def expect(ctx, p):
        """Every exact-duplicate text pair, as sorted id pairs."""
        import pandas as pd

        docs = ctx.docs_pdf
        dups = docs[docs["doc_id"].isin(p["dup_ids"])].assign(
            doc_id=lambda d: d["doc_id"] + "#dup")
        corpus = pd.concat([docs, dups])
        pairs = set()
        for ids in corpus.groupby("text")["doc_id"].agg(list):
            ids = sorted(ids)
            pairs.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1:])
        return pairs

    def run(ctx, p):
        from yirgacheffe_spark.text import dedup

        with ctx.tracer.span("dedup.lsh"):
            sigs = dedup.minhash_signatures(_corpus(ctx, p), "text", "doc_id", num_perm=64,
                                            shingle_n=3, bands=16).persist()
            try:
                rows = dedup.minhash_lsh_candidates(sigs, "doc_id", bands=16).collect()
            finally:
                sigs.unpersist()
        return {tuple(sorted((r["id_a"], r["id_b"]))) for r in rows}

    def check(ctx, p, got):
        missing = p["expect"] - got
        return f"{len(missing)} exact-duplicate pairs missing" if missing else None

    def probes(ctx, p, got):
        from yirgacheffe_spark.text import dedup

        tr = ctx.tracer
        corpus = _corpus(ctx, p)
        with tr.span("dedup.signatures") as s:
            sigs = dedup.minhash_signatures(corpus, "text", "doc_id", num_perm=64,
                                            shingle_n=3, bands=16).persist()
            sigs.count()
        out = {"dedup.signatures_s": s["end"] - s["start"]}
        try:
            with tr.span("dedup.candidates") as s:
                cands = dedup.minhash_lsh_candidates(sigs, "doc_id", bands=16).persist()
                n_pairs = cands.count()
            out["dedup.candidates_s"] = s["end"] - s["start"]
            try:
                with tr.span("dedup.verify"):
                    useful = (dedup.jaccard_pairs(corpus, cands, "text", "doc_id", shingle_n=3)
                              .where("jaccard >= 0.7").count())
            finally:
                cands.unpersist()
        finally:
            sigs.unpersist()
        out["dedup.candidate_pairs"] = float(n_pairs)
        out["dedup.useful_ratio"] = useful / n_pairs if n_pairs else 0.0
        return out

    return Op("minhash_lsh", "rows", params, expect, run, check, lambda ctx, p: p["n"], probes)


# -- workloads ------------------------------------------------------------------

# The engine path each operation guards: a change to that path should move
# the operation's latency, and the other workload should not move.
GUARDS = {
    "aoh_sum": "raster scan path: multi-table manifest scan and footer-stat pruning",
    "conv_sum": "raster scan path: stencil halo planning (strips collected while planning)",
    "unique": "raster scan path plus the shuffle that combines per-tile partials",
    "mosaic_sum": "raster scan path: unaligned multi-leaf mosaic (shuffles payload strips)",
    "save": "parquet sink and manifest write (dense)",
    "save_sparse": "parquet sink with sparse coverage (all-zero tiles dropped)",
    "enrich": "pages synthesis, text extraction and geocode in one Python stage",
    "pip_join": "cell cover and broadcast point-in-polygon verify",
    "knn_join": "kNN planner, including the fallback for polar and empty-region queries",
    "minhash_lsh": "MinHash signature kernel and LSH candidate generation",
}

WORKLOADS: dict[str, Callable[[], list[Op]]] = {
    "raster": lambda: [aoh_sum(), conv_sum(), unique(), mosaic_sum(), save(), save_sparse()],
    "pages_pipeline": lambda: [enrich(), pip_join(), knn_join(), minhash_lsh()],
}


def open_inputs(ctx: Ctx, workload: str) -> None:
    """Opens the workload's layers and tables (part of set-up)."""
    if workload == "raster":
        ctx.layers = {ch: lyr for ch, lyr in ctx.fx.rasters().items() if ch != "price"}
        ctx.mosaic_paths = ctx.fx.mosaic_paths()
    else:
        ctx.pages_df = ctx.spark.read.parquet(ctx.fx.pages_path(ctx.spark))
        ctx.docs_df = (ctx.spark.read.parquet(ctx.fx.docs_path(ctx.spark))
                       .selectExpr("url AS doc_id", "text"))


def load_oracle_inputs(ctx: Ctx, workload: str) -> None:
    """The oracles' own copies of the inputs, read without the engine."""
    import pyarrow.parquet as pq

    if workload == "raster":
        ctx.arrays = ctx.fx.arrays()
    else:
        t = pq.read_table(ctx.fx.pages_path(ctx.spark), columns=["lat", "lng"])
        ctx.page_lat = t.column("lat").to_numpy()
        ctx.page_lng = t.column("lng").to_numpy()
        d = pq.read_table(ctx.fx.docs_path(ctx.spark), columns=["url", "text"]).to_pandas()
        ctx.docs_pdf = d.rename(columns={"url": "doc_id"})

