"""The four benchmark workloads.

Once per run a workload builds or checks its cached inputs, derives what
the seed picks, and computes the reference values its checks compare
against (``prepare``). Each Spark session then gets its session-bound
frames (``bind``, no jobs). A pass runs the pipeline through the engine's
public functions with a span around every call (``run_pass``), and its
outputs are checked (``check``). ``scale`` shrinks the sizes for tests.

The four pipelines (see README.md for why each was chosen):

- ``pip_broadcast``: the paper's flagship path; its time splits between the
  JVM scan/regexp stage and the Arrow kernel at the Python boundary.
- ``pip_shuffle_knn``: the same geo layers the other way: a polygon side too
  large to broadcast, and the driver-orchestrated kNN ring loop.
- ``text_dedup``: touches no geo code, so a geo change predicts no move here.
- ``raster_resume``: the only writer; raster block kernels and the
  checkpoint/resume path.

The benchmark runs them as two workloads of two pipelines each, ``geo`` and
``text_raster``: one process per run has a fixed cost of about 15 s, and two
workloads leave time in each run for enough warm passes to be steady.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil

import numpy as np
from pyspark.sql import Observation
from pyspark.sql import functions as F

from perfbench import inputs


def _plan_s(df) -> float:
    """Force planning of ``df`` and return the analysis + optimization +
    planning phase time its QueryPlanningTracker recorded."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.values().iterator()
    total = 0
    while it.hasNext():
        ph = it.next()
        total += ph.endTimeMs() - ph.startTimeMs()
    return total / 1000.0


def collect(tr, name: str, df, out: dict):
    """Plan, then collect ``df`` inside span ``name``; adds plan time to
    ``out['plan_s']``."""
    with tr.span(name):
        out["plan_s"] = out.get("plan_s", 0.0) + _plan_s(df)
        return df.collect()


def _ring_of(wkb: bytes) -> np.ndarray:
    from gdal_spark.functions.geometry import decode_polygons
    return decode_polygons(wkb)[0][0]


class Workload:
    name = ""
    modules: tuple[str, ...] = ()

    def __init__(self, cache: str, seed: int, scale: float = 1.0):
        self.cache, self.seed, self.scale = cache, seed, scale
        self.input_rows = 0

    def n(self, base: int, floor: int = 1) -> int:
        return max(floor, int(base * self.scale))

    def prepare(self, spark) -> None:
        """Inputs and reference values, once per run (untimed)."""

    def bind(self, spark) -> None:
        """Session-bound frames from what ``prepare`` kept; runs no job."""

    def run_pass(self, spark, tr) -> dict:
        raise NotImplementedError

    def check(self, spark, out: dict) -> list[str]:
        raise NotImplementedError

    def cleanup(self) -> None:
        """Deletes what the last pass wrote; runs after its check, untimed."""


# ---------------------------------------------------------------------------
# geo helpers shared by the two PIP workloads
# ---------------------------------------------------------------------------

class _Polys:
    """Driver-side copy of a polygon layer for the membership check."""

    def __init__(self, rows):
        self.ids = np.array([r["cell_id"] for r in rows])
        self.rings = [_ring_of(bytes(r["wkb"])) for r in rows]
        self.box = np.array([[r["xmin"], r["ymin"], r["xmax"], r["ymax"]]
                             for r in rows])

    def containing(self, x: float, y: float) -> list[int]:
        from gdal_spark.functions.geometry import py_point_in_ring
        b = self.box
        cand = np.flatnonzero((b[:, 0] <= x) & (x <= b[:, 2])
                              & (b[:, 1] <= y) & (y <= b[:, 3]))
        return sorted(int(self.ids[i]) for i in cand
                      if py_point_in_ring(x, y, self.rings[i]))


def _sample_cond(col, seed: int, n_points: int):
    """Seeded membership sample of about 200 of ``n_points`` points."""
    modulus = max(1, n_points // 200)
    return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(modulus)) == 0


def _membership_errors(polys: _Polys, before, after, first_only: bool
                       ) -> list[str]:
    """Compare the join's matches for a point sample with a scalar
    ray-cast of every candidate polygon."""
    got: dict[int, list[int]] = {}
    for r in after:
        got.setdefault(r["uid"], [])
        if r["cid"] is not None:
            got[r["uid"]].append(int(r["cid"]))
    errs = []
    for r in before:
        want = polys.containing(r["lon"], r["lat"])
        if first_only:
            want = want[:1]
        have = sorted(got.get(r["uid"], []))
        if have != want:
            errs.append(f"pip uid={r['uid']} ({r['lon']},{r['lat']}): "
                        f"join {have} != ray-cast {want}")
    if not before:
        errs.append("pip membership sample is empty")
    return errs[:5]


# ---------------------------------------------------------------------------
# pip_broadcast
# ---------------------------------------------------------------------------

class PipBroadcast(Workload):
    """pages -> points -> 128-bit text-hash dedup -> broadcast PIP against
    concave diamonds -> z8 tiles -> per-(cell, tile) counts -> z8..z5
    pyramid."""
    name = "pip_broadcast"
    modules = ("gdal_spark.operators.spatial_join",
               "gdal_spark.functions.geometry")
    PAGES = 300_000
    GRID = 40  # 1,600 diamonds
    ZOOM, MIN_ZOOM = 8, 5

    def prepare(self, spark):
        self.input_rows = self.n(self.PAGES, 2000)
        self.pages = inputs.pages(spark, self.cache, self.input_rows)
        layer = inputs.diamond_layer(spark, self.GRID,
                                     inputs.grid_origin(self.seed, self.GRID))
        self.poly_rows, self.poly_schema = layer.collect(), layer.schema
        self.check_polys = _Polys(self.poly_rows)

    def bind(self, spark):
        # a local relation: its size estimate keeps strategy="auto" on the
        # broadcast path without a count job
        self.polys = spark.createDataFrame(self.poly_rows, self.poly_schema)

    def run_pass(self, spark, tr):
        from gdal_spark.functions import tiles
        from gdal_spark.operators import spatial_join as SJ
        from gdal_spark.operators import tiling
        from gdal_spark.sources import catalog
        from gdal_spark.sources import pages as P

        out: dict = {}
        with tr.span("sources.load_table"):
            pg = catalog.load_table(spark, self.pages)
        with tr.span("sources.extract_points"):
            hashed = P.extract_points(
                pg, extra=(F.xxhash64("text").alias("h1"),
                           F.xxhash64("text", F.lit(1)).alias("h2"),
                           F.xxhash64("url").alias("uid")))
        pts = (hashed.groupBy("h1", "h2")
               .agg(F.min("uid").alias("uid"), F.first("lon").alias("lon"),
                    F.first("lat").alias("lat")))
        sample = _sample_cond(F.col("uid"), self.seed, self.input_rows // 2)
        ob_in, ob_out = Observation("pip_in"), Observation("pip_out")
        pts = pts.observe(ob_in, F.collect_list(F.when(
            sample, F.struct("uid", "lon", "lat"))).alias("s"))
        with tr.span("spatial_join.call"):
            joined = SJ.point_in_polygon_join(pts, self.polys, strategy="auto")
        joined = joined.observe(ob_out, F.collect_list(F.when(
            sample, F.struct("uid", F.col("cell_id").alias("cid")))).alias("s"))
        with tr.span("tiling.tile_columns"):
            tiled = tiles.with_tile_columns(joined, zoom=self.ZOOM)
        cells = (tiled.groupBy("cell_id", "tx", "ty")
                 .agg(F.count(F.lit(1)).alias("n")).persist())
        out["cells"] = collect(tr, "tiling.cell_tile_counts", cells, out)
        base = (cells.groupBy("tx", "ty").agg(F.sum("n").alias("n"))
                .withColumn("zoom", F.lit(self.ZOOM))
                .withColumn("quadkey", tiles.quadkey(F.col("tx"), F.col("ty"),
                                                     self.ZOOM)))
        with tr.span("tiling.pyramid"):
            pyr = tiling.pyramid(base, self.ZOOM, self.MIN_ZOOM)
        out["pyramid"] = collect(tr, "tiling.pyramid_exec", pyr, out)
        cells.unpersist()
        out["sample_in"] = ob_in.get["s"]
        out["sample_out"] = ob_out.get["s"]
        matched = sum(r["n"] for r in out["cells"])
        out["counts"] = {"spatial_join.matched": matched}
        return out

    def check(self, spark, out):
        errs = _membership_errors(self.check_polys, out["sample_in"],
                                  out["sample_out"], first_only=False)
        errs += _pyramid_errors(out["cells"], out["pyramid"], self.ZOOM,
                                self.MIN_ZOOM)
        return errs


def _pyramid_errors(cells, pyramid, zoom: int, min_zoom: int) -> list[str]:
    """Every level sums to the base, and each level's tiles are the sums of
    their children one level down."""
    errs = []
    total = sum(r["n"] for r in cells)
    base: dict = {}
    for r in cells:
        base[(r["tx"], r["ty"])] = base.get((r["tx"], r["ty"]), 0) + r["n"]
    levels: dict[int, dict] = {}
    for r in pyramid:
        levels.setdefault(r["zoom"], {})[(r["tx"], r["ty"])] = r["n"]
    if sorted(levels) != list(range(min_zoom, zoom + 1)):
        return [f"pyramid levels {sorted(levels)}"]
    if levels[zoom] != base:
        errs.append("pyramid base differs from the per-(cell, tile) counts")
    for z in range(zoom, min_zoom - 1, -1):
        if sum(levels[z].values()) != total:
            errs.append(f"pyramid z{z} sums to {sum(levels[z].values())}, "
                        f"base {total}")
        if z < zoom:
            want: dict = {}
            for (tx, ty), n in levels[z + 1].items():
                want[(tx // 2, ty // 2)] = want.get((tx // 2, ty // 2), 0) + n
            if want != levels[z]:
                errs.append(f"pyramid z{z} is not the sum of z{z + 1}")
    return errs


# ---------------------------------------------------------------------------
# pip_shuffle_knn
# ---------------------------------------------------------------------------

class PipShuffleKnn(Workload):
    """points -> shuffle PIP (left_first) against 5,041 concave diamonds read
    from parquet -> per-cell counts; then kNN (k=8) by cell-ring expansion
    for a seeded query sample."""
    name = "pip_shuffle_knn"
    modules = ("gdal_spark.operators.spatial_join",
               "gdal_spark.functions.geometry", "gdal_spark.operators.knn")
    PAGES = 30_000
    GRID = 71  # 5,041 diamonds
    QUERIES = 8
    K = 8

    def prepare(self, spark):
        from gdal_spark.sources import catalog
        self.input_rows = self.n(self.PAGES, 2000)
        self.pages = inputs.pages(spark, self.cache, self.input_rows)
        grid = max(4, int(self.GRID * min(1.0, self.scale ** 0.5)))
        self.poly_path = inputs.diamonds(
            spark, self.cache, grid, inputs.grid_origin(self.seed, grid),
            self.seed)
        self.check_polys = _Polys(
            catalog.load_table(spark, self.poly_path).collect())
        n_q = self.QUERIES if self.scale >= 1 else 3
        rows = (self._points(spark).orderBy(F.xxhash64("pid", F.lit(self.seed)))
                .limit(n_q).collect())
        self.query_rows = [(r["pid"], r["lon"], r["lat"]) for r in rows]
        self.bind(spark)
        from gdal_spark.operators.knn import knn_bruteforce
        ref = knn_bruteforce(self.queries, self._points(spark), self.K).collect()
        self.knn_ref = sorted((r["qid"], r["rank"], r["pid"], r["dist_sq"])
                              for r in ref)

    def bind(self, spark):
        self.queries = spark.createDataFrame(
            self.query_rows, "qid long, lon double, lat double")

    def _points(self, spark):
        from gdal_spark.sources import catalog
        from gdal_spark.sources import pages as P
        return P.extract_points(catalog.load_table(spark, self.pages),
                                extra=(F.xxhash64("url").alias("pid"),))

    def run_pass(self, spark, tr):
        from gdal_spark.operators import knn as KNN
        from gdal_spark.operators import spatial_join as SJ
        from gdal_spark.sources import catalog

        out: dict = {}
        with tr.span("sources.load_table"):
            pts = self._points(spark)
            polys = catalog.load_table(spark, self.poly_path)
        sample = _sample_cond(F.col("pid"), self.seed, self.input_rows)
        ob_in, ob_out = Observation("pip_in"), Observation("pip_out")
        pts_o = pts.observe(ob_in, F.collect_list(F.when(
            sample, F.struct(F.col("pid").alias("uid"), "lon", "lat"))
        ).alias("s"))
        with tr.span("spatial_join.call"):
            joined = SJ.point_in_polygon_join(pts_o, polys, how="left_first",
                                              strategy="shuffle")
        joined = joined.observe(ob_out, F.collect_list(F.when(
            sample, F.struct(F.col("pid").alias("uid"),
                             F.col("cell_id").alias("cid")))).alias("s"))
        per_cell = joined.groupBy("cell_id").agg(
            F.count(F.lit(1)).alias("n"), F.min("pid").alias("min_pid"))
        out["cells"] = collect(tr, "spatial_join.exec", per_cell, out)
        out["sample_in"] = ob_in.get["s"]
        out["sample_out"] = ob_out.get["s"]
        with tr.span("knn.call"):
            res = KNN.knn_cell_ring(self.queries, pts.select("pid", "lon", "lat"),
                                    k=self.K, zoom=6)
        out["knn"] = collect(tr, "knn.exec", res, out)
        matched = sum(r["n"] for r in out["cells"] if r["cell_id"] is not None)
        out["counts"] = {"spatial_join.matched": matched,
                         "knn.results": self.K * len(self.query_rows)}
        return out

    def check(self, spark, out):
        errs = _membership_errors(self.check_polys, out["sample_in"],
                                  out["sample_out"], first_only=True)
        n = sum(r["n"] for r in out["cells"])
        if n != self.input_rows:
            errs.append(f"left join kept {n} of {self.input_rows} points")
        got = sorted((r["qid"], r["rank"], r["pid"], r["dist_sq"])
                     for r in out["knn"])
        if got != self.knn_ref:
            errs.append("knn_cell_ring differs from knn_bruteforce")
        return errs


# ---------------------------------------------------------------------------
# text_dedup
# ---------------------------------------------------------------------------

def _shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


class TextDedup(Workload):
    """exact_dup_groups; MinHash -> LSH candidates (cache + count) -> n-gram
    Jaccard verify -> connected components; IVF cosine top-k for a few
    queries over the matching embeddings."""
    name = "text_dedup"
    modules = ("gdal_spark.operators.dedup",)
    DOCS, VECS = 1_500, 800
    THRESHOLD = 0.5

    def prepare(self, spark):
        from gdal_spark.sources import catalog
        self.docs_path, self.emb_path = inputs.corpus(
            spark, self.cache, self.n(self.DOCS, 400), self.n(self.VECS, 200))
        self.input_rows = self._docs(spark).count()
        emb = catalog.load_table(spark, self.emb_path)
        self.query_rows = [
            (r["vec_id"], r["embedding"]) for r in
            emb.orderBy(F.xxhash64("vec_id", F.lit(self.seed))).limit(5).collect()]
        rows = (self._docs(spark).groupBy("text")
                .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("m"))
                .filter(F.col("n") > 1).collect())
        self.exact_ref = sorted((r["m"], r["n"]) for r in rows)

    def bind(self, spark):
        self.queries = spark.createDataFrame(self.query_rows,
                                             "qid long, embedding array<float>")

    def _docs(self, spark):
        from gdal_spark.sources import catalog
        # the seeded subset: 7 of every 8 documents
        keep = F.pmod(F.xxhash64("doc_id", F.lit(self.seed)), F.lit(8)) != 0
        return catalog.load_table(spark, self.docs_path).filter(keep)

    def run_pass(self, spark, tr):
        from gdal_spark.operators import ann as ANN
        from gdal_spark.operators import dedup as DD
        from gdal_spark.operators.graph import connected_components
        from gdal_spark.sources import catalog

        out: dict = {}
        with tr.span("sources.load_table"):
            docs = self._docs(spark)
            emb = catalog.load_table(spark, self.emb_path)
        with tr.span("dedup.exact"):
            groups = DD.exact_dup_groups(docs)
            out["exact"] = collect(tr, "dedup.exact_exec", groups, out)
        with tr.span("dedup.minhash"):
            sigs = DD.minhash_signatures(docs, n_hashes=8, shingle_n=3)
        with tr.span("dedup.candidates"):
            pairs = DD.lsh_candidate_pairs(sigs, n_bands=4, rows_per_band=2
                                           ).cache()
            n_cand = pairs.count()
        with tr.span("dedup.verify"):
            jac = DD.ngram_jaccard_pairs(docs, pairs, shingle_n=3)
            verified = jac.filter(F.col("jaccard") >= self.THRESHOLD).cache()
            out["verified"] = collect(tr, "dedup.verify_exec", verified, out)
        with tr.span("graph.cc_call"):
            cc = connected_components(
                verified.select(F.col("id_a").alias("src"),
                                F.col("id_b").alias("dst")),
                vertices=docs.select(F.col("doc_id").alias("id")), id_col="id")
        out["members"] = collect(
            tr, "graph.cc_exec", cc.filter(F.col("id") != F.col("component")),
            out)
        with tr.span("ann.ivf_call"):
            res = ANN.cosine_topk_ivf(self.queries, emb, k=10, n_centroids=16,
                                      n_probe=4)
        out["ann"] = collect(tr, "ann.ivf_exec", res, out)
        verified.unpersist()
        pairs.unpersist()
        out["counts"] = {"dedup.candidate_pairs": n_cand,
                         "dedup.verified_pairs": len(out["verified"])}
        return out

    def check(self, spark, out):
        errs = []
        got = sorted((r["min_doc_id"], r["n_docs"]) for r in out["exact"])
        if got != self.exact_ref:
            errs.append("exact_dup_groups differs from groupBy(text)")
        # Jaccard of sampled verified pairs, recomputed on the raw texts
        sample = random.Random(self.seed).sample(
            out["verified"], min(20, len(out["verified"])))
        ids = sorted({i for r in sample for i in (r["id_a"], r["id_b"])})
        texts = {r["doc_id"]: r["text"] for r in self._docs(spark)
                 .filter(F.col("doc_id").isin(ids)).collect()}
        for r in sample:
            a, b = _shingles(texts[r["id_a"]]), _shingles(texts[r["id_b"]])
            j = round(len(a & b) / len(a | b), 6)
            if abs(j - r["jaccard"]) > 1e-6:
                errs.append(f"jaccard({r['id_a']},{r['id_b']}) {r['jaccard']}"
                            f" != exact {j}")
        # components: union-find over the verified edges
        parent: dict[int, int] = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for r in out["verified"]:
            ra, rb = find(r["id_a"]), find(r["id_b"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in list(parent) if find(x) != x}
        have = {r["id"]: r["component"] for r in out["members"]}
        if have != want:
            errs.append(f"connected_components: {len(have)} members labelled,"
                        f" union-find {len(want)}")
        per_q: dict = {}
        for r in out["ann"]:
            per_q.setdefault(r["qid"], []).append(r)
        if len(per_q) != 5 or any(
                [x["rank"] for x in sorted(v, key=lambda x: x["rank"])]
                != list(range(1, 11)) for v in per_q.values()):
            errs.append("cosine_topk_ivf did not return 10 ranked rows per query")
        else:
            for v in per_q.values():
                sims = [x["sim"] for x in sorted(v, key=lambda x: x["rank"])]
                if sims != sorted(sims, reverse=True):
                    errs.append("cosine_topk_ivf ranks out of order")
        return errs[:5]


# ---------------------------------------------------------------------------
# raster_resume
# ---------------------------------------------------------------------------

class RasterResume(Workload):
    """points -> rasterize_points -> pixels_to_blocks -> two overview levels
    -> resumable_write keyed by block, first for a seeded half of the keys
    (the simulated crash), then resumed for all; then verify_manifest."""
    name = "raster_resume"
    modules = ("gdal_spark.raster.rasterize", "gdal_spark.raster.pyramid")
    KEYS = ["raster_id", "bx", "by"]
    PAGES = 30_000

    def prepare(self, spark):
        from gdal_spark.raster.model import RasterMeta
        self.input_rows = self.n(self.PAGES, 2000)
        self.pages = inputs.pages(spark, self.cache, self.input_rows)
        w, h = 1024, 512
        self.meta = RasterMeta("burn", w, h, gt=(-180.0, 360.0 / w, 0.0, 90.0,
                                                 0.0, -180.0 / h))
        self.out_root = self.cache + "-raster-out"
        shutil.rmtree(self.out_root, ignore_errors=True)
        self.n_pass = 0
        self._reference(spark)

    def _blocks(self, spark):
        from gdal_spark.raster import pyramid as RP
        from gdal_spark.raster import rasterize as RZ
        from gdal_spark.sources import catalog
        from gdal_spark.sources import pages as P
        pts = P.extract_points(catalog.load_table(spark, self.pages)
                               ).withColumn("burn", F.lit(1))
        px = RZ.rasterize_points(pts, self.meta, merge_alg="add")
        blocks = RZ.pixels_to_blocks(px, self.meta)
        ov1, m1 = RP.overview_level(blocks, self.meta, "burn_o1")
        ov2, _ = RP.overview_level(ov1, m1, "burn_o2")
        return blocks.unionByName(ov1).unionByName(ov2)

    def _reference(self, spark):
        from gdal_spark.plans import manifest as M

        def build(tmp):
            M.resumable_write(self._blocks(spark), tmp, self.KEYS,
                              job_id="raster")
        key = (f"raster-oneshot-n{self.input_rows}-"
               f"{self.meta.width}x{self.meta.height}")
        one_shot = inputs.cached(self.cache, key, build)
        data = spark.read.parquet(os.path.join(one_shot, "data"))
        self.ref_manifest = self._manifest(spark, one_shot)
        self.ref_rows = data.count()
        self.payload_bytes = data.agg(F.sum(F.length("data"))).collect()[0][0]
        keys = sorted(k[:3] for k in self.ref_manifest)
        order = sorted(keys, key=lambda k: hashlib.sha256(
            f"{self.seed}:{k}".encode()).hexdigest())
        self.crash_rows = order[:len(order) // 2]
        self.n_keys = len(keys)
        self.n_crash = len(order) // 2

    def _manifest(self, spark, out_dir):
        rows = spark.read.parquet(os.path.join(out_dir, "_manifest")).collect()
        return sorted((r["raster_id"], r["bx"], r["by"], r["n_rows"],
                       r["checksum"]) for r in rows)

    def run_pass(self, spark, tr):
        from gdal_spark.plans import manifest as M
        self.n_pass += 1
        out_dir = os.path.join(self.out_root, f"pass-{self.n_pass}")
        out: dict = {"dir": out_dir}
        with tr.span("raster.build"):
            blocks = self._blocks(spark)
        with tr.span("plans.partial_write"):
            crash = spark.createDataFrame(self.crash_rows,
                                          "raster_id string, bx int, by int")
            out["partial"] = M.resumable_write(
                blocks.join(crash, on=self.KEYS, how="left_semi"),
                out_dir, self.KEYS, job_id="raster")
        with tr.span("plans.write") as resume:
            out["resume"] = M.resumable_write(blocks, out_dir, self.KEYS,
                                              job_id="raster")
        out["resume_s"] = resume.duration
        with tr.span("plans.verify"):
            out["bad"] = M.verify_manifest(spark, out_dir, "raster").collect()
        size, files = inputs.dir_bytes(out_dir)
        out["counts"] = {
            "plans.keys_pending": out["resume"]["pending_keys"],
            "plans.keys_skipped": out["resume"]["done_keys"],
            "plans.bytes_written": size, "plans.files_written": files,
            "bytes_per_payload_byte": size / self.payload_bytes}
        return out

    def cleanup(self):
        # right after the pass, while the kernel still holds the files in
        # its page cache: on a file system that discards freed blocks,
        # deleting files it has already written back costs milliseconds
        # each, up to a second a pass, which no timed region should pay
        shutil.rmtree(self.out_root, ignore_errors=True)

    def check(self, spark, out):
        errs = []
        if out["bad"]:
            errs.append(f"verify_manifest returned {len(out['bad'])} rows")
        if (out["partial"]["pending_keys"], out["resume"]["pending_keys"],
                out["resume"]["done_keys"]) != (
                self.n_crash, self.n_keys - self.n_crash, self.n_crash):
            errs.append(f"resume keys {out['partial']} {out['resume']}")
        rows = spark.read.parquet(os.path.join(out["dir"], "data")).count()
        if rows != self.ref_rows:
            errs.append(f"resumed output has {rows} rows, one-shot {self.ref_rows}")
        if self._manifest(spark, out["dir"]) != self.ref_manifest:
            errs.append("resumed manifest differs from the one-shot write")
        return errs


# ---------------------------------------------------------------------------
# the benchmark's workloads: two pipelines per pass
# ---------------------------------------------------------------------------

class Composite(Workload):
    """Runs its pipelines back to back in one pass. Its input rows are
    theirs summed; counts of the same name add up."""
    parts: tuple = ()

    def __init__(self, cache: str, seed: int, scale: float = 1.0):
        super().__init__(cache, seed, scale)
        self.subs = [cls(cache, seed, scale) for cls in self.parts]

    def prepare(self, spark):
        for w in self.subs:
            w.prepare(spark)
        self.input_rows = sum(w.input_rows for w in self.subs)

    def bind(self, spark):
        for w in self.subs:
            w.bind(spark)

    def run_pass(self, spark, tr):
        out: dict = {"parts": [], "counts": {}, "plan_s": 0.0}
        for w in self.subs:
            part = w.run_pass(spark, tr)
            out["parts"].append(part)
            out["plan_s"] += part.get("plan_s", 0.0)
            for k, v in part["counts"].items():
                out["counts"][k] = out["counts"].get(k, 0) + v
            if "resume_s" in part:
                out["resume_s"] = part["resume_s"]
        return out

    def check(self, spark, out):
        return [f"{w.name}: {e}" for w, part in zip(self.subs, out["parts"])
                for e in w.check(spark, part)]

    def cleanup(self):
        for w in self.subs:
            w.cleanup()


class Geo(Composite):
    """The flagship broadcast PIP + tiling path, then the shuffle PIP and the
    kNN ring loop over the same kind of point layer."""
    name = "geo"
    parts = (PipBroadcast, PipShuffleKnn)
    modules = PipBroadcast.modules + PipShuffleKnn.modules


class TextRaster(Composite):
    """No geo join: the webtext dedup pipeline, then the raster burn,
    overviews and the crash/resume write."""
    name = "text_raster"
    parts = (TextDedup, RasterResume)
    modules = TextDedup.modules + RasterResume.modules


WORKLOADS = {w.name: w for w in (Geo, TextRaster)}
