"""The three benchmark workloads and their output checks.

Each workload's ``iterate`` is one closed-loop operation (the next
starts only when the previous returns). With a tracer it records a span
around every call it makes into a layer's public function; the traced
shape of ``sjoin_tile`` also materialises the join pairs, so that
``tiles.assign_s`` is measured over stored pairs (the overhead this
adds is reported as ``trace.overhead_share``).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import time
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np
from pyspark.sql import functions as F

from cdap_geo_spark import docs as D
from cdap_geo_spark.core import cells as C
from cdap_geo_spark.core import geom as G
from cdap_geo_spark.core import wkb as W
from cdap_geo_spark.core.lifetime import checkpoint_scope
from cdap_geo_spark.jobs import sjoin_tile as job
from cdap_geo_spark.operators.knn import knn_join
from cdap_geo_spark.operators.sjoin import sjoin_pairs
from cdap_geo_spark.operators.tiles import assign_tiles
from cdap_geo_spark.plans.manifest import Manifest

from perfbench.inputs import PROBES, Inputs

# the headline's parameters (bench.headline, BASELINE.md)
BBOX = (0, 0, 700_000, 1_300_000)
LEVEL = 7
SPLITS = 10
KNN_K = 10

#: output-check sample sizes (brute-force oracles in the driver)
CHECK_DOCS = 300
CHECK_QUERIES = 25
#: geometries per driver-side kernel timing, and repeats (median)
MICRO_GEOMS = 4000
MICRO_REPEATS = 5


@dataclass
class Ctx:
    spark: object
    inputs: Inputs
    work: str


def _span(tr, name):
    return tr.span(name) if tr is not None else nullcontext({})


def fingerprint(df, cols, keep=None) -> tuple[int, str, list]:
    """(rows, order-independent digest of ``cols``, the rows matching
    ``keep``) in one action."""
    h = F.xxhash64(*cols)
    aggs = [F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(h, F.lit(1_000_000_007))).alias("s"),
            F.bit_xor(h).alias("x")]
    if keep is not None:
        aggs.append(F.collect_list(F.when(keep, F.struct(*cols))).alias("k"))
    r = df.agg(*aggs).first()
    kept = [tuple(row) for row in r["k"]] if keep is not None else []
    return r["n"], f"{r['n']}:{r['s']}:{r['x']}", kept


def bbox_pairs(lb, rb) -> tuple[np.ndarray, np.ndarray]:
    """All (left, right) index pairs whose bounding boxes overlap: the
    nested-loop candidate set, with no cell index."""
    lbb, rbb = lb.bounds(), rb.bounds()
    return np.nonzero((lbb[:, None, 0] <= rbb[None, :, 2])
                      & (lbb[:, None, 2] >= rbb[None, :, 0])
                      & (lbb[:, None, 1] <= rbb[None, :, 3])
                      & (lbb[:, None, 3] >= rbb[None, :, 1]))


def _docs_with_geometry(ctx: Ctx):
    return D.with_geometry(ctx.spark.read.parquet(ctx.inputs.docs_path))


def _regions(ctx: Ctx):
    return ctx.spark.read.parquet(ctx.inputs.regions_path) \
        .select("region_id", "geometry")


def sjoin_tile_output(ctx: Ctx, tr=None):
    """bench.headline's pipeline -> (doc_id, region_id, tile_id)."""
    with _span(tr, "sjoin.plan"):
        pairs = sjoin_pairs(_docs_with_geometry(ctx), _regions(ctx),
                            left_id="doc_id", right_id="region_id",
                            level=LEVEL, dedup=False, keep_left_geom=True)
    if tr is not None:
        with tr.span("sjoin.pairs") as sp:
            pairs = pairs.persist()
            sp["matches"] = pairs.count()
    tiled = assign_tiles(pairs, bbox=BBOX, splits=SPLITS,
                         keep=("region_id",))
    return tiled.dropDuplicates(["doc_id", "region_id", "tile_id"]), pairs


class Workload:
    name = ""
    #: per-layer metric groups this workload's traced loop produces
    layers: tuple = ()

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def iteration_problems(self, res: dict) -> list[str]:
        """Checks on one iteration beyond its fingerprint."""
        return []

    def final_checks(self) -> list[str]:
        """Checks that need a Spark job of their own, once per run."""
        return []


def _sample(n: int, k: int) -> list[int]:
    return list(range(0, n, max(1, n // k)))[:k]


class SjoinTile(Workload):
    name = "sjoin_tile"
    layers = ("sjoin", "tiles")

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        ids = ctx.inputs.doc_ids
        self.sample = [ids[i] for i in _sample(len(ids), CHECK_DOCS)]
        self._oracle = None

    def iterate(self, tr=None) -> dict:
        t0 = time.perf_counter()
        out, pairs = sjoin_tile_output(self.ctx, tr)
        with _span(tr, "tiles.assign") as sp:
            rows, fp, kept = fingerprint(
                out, ["doc_id", "region_id", "tile_id"],
                keep=F.col("doc_id").isin(self.sample))
            sp["rows"] = rows
        wall = time.perf_counter() - t0
        if tr is not None:
            pairs.unpersist()
        return {"wall": wall, "rows": rows, "fp": fp, "sample": kept}

    def oracle(self) -> tuple[set, dict]:
        """Brute force on the doc sample: every region each sampled doc
        intersects (all-pairs bbox filter + exact kernel, no cell
        index), and for point docs the tile their point falls in."""
        inp = self.ctx.inputs
        sample = _sample(len(inp.doc_ids), CHECK_DOCS)
        lb = W.parse_wkb([inp.doc_geoms[i] for i in sample])
        rb = W.parse_wkb(inp.region_geoms)
        li, ri = bbox_pairs(lb, rb)
        hit = G.pairs_intersect(lb, rb, li, ri)
        lbb = lb.bounds()
        pairs = {(inp.doc_ids[sample[a]], inp.region_ids[b])
                 for a, b in zip(li[hit], ri[hit])}
        tile_w = (BBOX[2] - BBOX[0]) // SPLITS
        tile_h = (BBOX[3] - BBOX[1]) // SPLITS
        point_tile = {}
        for a, i in enumerate(sample):
            if len(inp.doc_geoms[i]) == 21:  # WKB point
                tx = min(max(int(lbb[a, 0] // tile_w), 0), SPLITS - 1)
                ty = min(max(int(lbb[a, 1] // tile_h), 0), SPLITS - 1)
                point_tile[inp.doc_ids[i]] = f"{tx * tile_w}-{ty * tile_h}"
        return pairs, point_tile

    def iteration_problems(self, res: dict) -> list[str]:
        if self._oracle is None:
            self._oracle = self.oracle()
        want_pairs, point_tile = self._oracle
        got = res["sample"]
        problems = []
        if {(d, r) for d, r, _ in got} != want_pairs:
            problems.append("sjoin_tile: (doc, region) pairs differ from "
                            "the brute-force oracle on the doc sample")
        want_tiles = {(d, r, point_tile[d]) for d, r in want_pairs
                      if d in point_tile}
        if {g for g in got if g[0] in point_tile} != want_tiles:
            problems.append("sjoin_tile: point-doc tiles differ from the "
                            "grid arithmetic on the doc sample")
        return problems


class Knn(Workload):
    name = "knn"
    layers = ("knn",)

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self._oracle = None

    def iterate(self, tr=None) -> dict:
        spark, inp = self.ctx.spark, self.ctx.inputs
        t0 = time.perf_counter()
        corpus = _docs_with_geometry(self.ctx) \
            .where(F.length("geometry") == 21).select("doc_id", "geometry")
        queries = spark.read.parquet(inp.queries_path, inp.probes_path) \
            .select("query_id", "geometry")
        with checkpoint_scope():
            with _span(tr, "knn.loop"):
                res = knn_join(queries, corpus, k=KNN_K)
            with _span(tr, "knn.final"):
                rows = res.collect()
        wall = time.perf_counter() - t0
        got = sorted((r.query_id, r.rank, r.doc_id, r.dist) for r in rows)
        digest = hashlib.sha1(repr([g[:3] for g in got]).encode())
        fp = f"{len(got)}:{digest.hexdigest()[:16]}"
        return {"wall": wall, "rows": len(rows), "fp": fp, "result": got}

    def oracle(self) -> dict:
        """FIXTURES.md section 5: brute-force distance sort over the
        whole point corpus for a query sample -> {query: [(dist, id)]},
        plus each corpus point's distance for tie checks."""
        inp = self.ctx.inputs
        pts = [(d, g) for d, g in zip(inp.doc_ids, inp.doc_geoms)
               if len(g) == 21]
        ids = np.array([d for d, _ in pts])
        xy = W.parse_wkb([g for _, g in pts]).bounds()[:, :2]
        qxy = W.parse_wkb(inp.query_geoms).bounds()[:, :2]
        out = {}
        probes = range(len(inp.query_ids) - len(PROBES), len(inp.query_ids))
        for j in _sample(len(inp.query_ids) - len(PROBES), CHECK_QUERIES) \
                + list(probes):
            dist = np.hypot(xy[:, 0] - qxy[j, 0], xy[:, 1] - qxy[j, 1])
            top = np.lexsort((ids, dist))[:KNN_K]
            out[inp.query_ids[j]] = ([dist[o] for o in top],
                                     dict(zip(ids, dist)))
        return out

    def iteration_problems(self, res: dict) -> list[str]:
        if self._oracle is None:
            self._oracle = self.oracle()
        by_query: dict[str, list] = {}
        for q, _, d, dist in res["result"]:
            by_query.setdefault(q, []).append((d, dist))
        for q, (want, true_dist) in self._oracle.items():
            got = by_query.get(q, [])
            # a neighbour may differ from the oracle's only inside a
            # distance tie: its own true distance must match the rank's
            if len(got) != len(want) or any(
                    gid not in true_dist
                    or abs(gd - wd) > 1e-6 * max(1.0, wd)
                    or abs(true_dist[gid] - gd) > 1e-6 * max(1.0, gd)
                    for (gid, gd), wd in zip(got, want)):
                return [f"knn: query {q} differs from the brute-force "
                        "distance sort"]
        return []


class SjoinJob(Workload):
    name = "sjoin_job"
    layers = ("manifest",)

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.last_root = None

    def iterate(self, tr=None) -> dict:
        inp = self.ctx.inputs
        if self.last_root:
            shutil.rmtree(self.last_root, ignore_errors=True)
        # a fresh manifest root per run: an existing one would resume
        os.makedirs(os.path.join(self.ctx.work, "job"), exist_ok=True)
        root = tempfile.mkdtemp(dir=os.path.join(self.ctx.work, "job"))
        self.last_root = root
        args = dict(docs=inp.docs_path, regions=inp.regions_path, out=root)
        t0 = time.perf_counter()
        with _span(tr, "jobs.run"):
            summary = job.run(self.ctx.spark, **args)
        t1 = time.perf_counter()
        with _span(tr, "jobs.resume"):
            again = job.run(self.ctx.spark, **args)
        t2 = time.perf_counter()
        man = Manifest(self.ctx.spark, root)
        infos = [man.stage_info(s["name"]) for s in summary["stages"]]
        stored = sum(p["bytes"] for i in infos for p in i["partitions"])
        return {
            "wall": t1 - t0, "resume": t2 - t1, "rows": summary["rows"],
            "fp": str(summary["rows"]),
            "stage_s": {s["name"]: s["wall_ms"] / 1e3
                        for s in summary["stages"]},
            "files": sum(i["num_files"] for i in infos),
            "bytes": stored,
            "violations": summary["span_invariant_violations"]
            + again["span_invariant_violations"],
            "resumed": all(s["skipped"] for s in again["stages"])
            and again["rows"] == summary["rows"],
        }

    def iteration_problems(self, res: dict) -> list[str]:
        problems = []
        if res["violations"]:
            problems.append(f"sjoin_job: {res['violations']} span "
                            "invariant violations")
        if not res["resumed"]:
            problems.append("sjoin_job: resume re-ran a committed stage")
        return problems

    def final_checks(self) -> list[str]:
        """The committed ``enriched`` rows equal the sjoin_tile rows on
        the same inputs, (doc_id, region_id, tile_id) for each."""
        enriched = Manifest(self.ctx.spark, self.last_root).read("enriched")
        cols = ["doc_id", "region_id", "tile_id"]
        _, got, _ = fingerprint(enriched, cols)
        _, want, _ = fingerprint(sjoin_tile_output(self.ctx)[0], cols)
        return [] if got == want else [
            "sjoin_job: enriched rows differ from the sjoin_tile rows"]


WORKLOADS = {w.name: w for w in (SjoinTile, Knn, SjoinJob)}


# --- layer probes for the traced run ----------------------------------

def docs_probe(ctx: Ctx, tr) -> list[str]:
    docs = ctx.spark.read.parquet(ctx.inputs.docs_path)
    with tr.span("docs.extract"):
        D.with_geometry(docs).write.format("noop").mode("overwrite").save()
    with tr.span("docs.invariant") as sp:
        sp["violations"] = D.check_span_invariant(docs,
                                                  D.with_geometry(docs))
    return [f"docs: {sp['violations']} span invariant violations"] \
        if sp["violations"] else []


def candidates_probe(ctx: Ctx, tr) -> list[str]:
    with tr.span("sjoin.candidates") as sp:
        sp["candidates"] = sjoin_pairs(
            _docs_with_geometry(ctx), _regions(ctx), left_id="doc_id",
            right_id="region_id", level=LEVEL, predicate="bbox",
            dedup=False).count()
    return []


def _median_call_s(fn) -> float:
    times = []
    for _ in range(MICRO_REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times))


def kernel_micro(ctx: Ctx, workload: str) -> dict:
    """Driver-side timings of the geometry kernels on a fixed sample of
    the workload's own blobs (kNN: its point corpus), and on the real
    bbox-candidate pairs of that sample against the regions."""
    inp = ctx.inputs
    blobs = [g for g in inp.doc_geoms
             if workload != "knn" or len(g) == 21][:MICRO_GEOMS]
    n = len(blobs)
    parse_s = _median_call_s(lambda: W.parse_wkb(blobs))
    batch = W.parse_wkb(blobs)
    cover = C.cover_batch(batch, LEVEL, how="intersects")
    cover_s = _median_call_s(
        lambda: C.cover_batch(batch, LEVEL, how="intersects"))
    rb = W.parse_wkb(inp.region_geoms)
    li, ri = bbox_pairs(batch, rb)
    pair_s = _median_call_s(lambda: G.pairs_intersect(batch, rb, li, ri))
    return {
        "wkb.parse_us_per_geom": parse_s / n * 1e6,
        "cells.cover_us_per_geom": cover_s / n * 1e6,
        "cells.cells_per_geom": len(cover[1]) / n,
        "geom.intersect_us_per_pair": pair_s / max(len(li), 1) * 1e6,
    }
