"""Seeded benchmark inputs: interleaved documents, regions, kNN queries.

The seed shifts the id range fed to the public generators
(``fixtures.doc_geometry_wkb`` / ``fixtures.doc_coords``), so every seed
is a disjoint, deterministic draw from the same distributions, and seed
0 reproduces ``fixtures.documents(n)`` and ``fixtures.knn_queries(q)``
row for row (``selftest.py`` checks this). Regions are a fixed reference
table (``fixtures.regions``) shared by every seed, and so are the two
far-field kNN probes (``PROBES``), written as a table of their own.

Documents and queries are built in the driver and written with pyarrow:
the span layout below mirrors FIXTURES.md section 1 using only the
public generators, so a refactor of the fixture module's private helpers
cannot change what the benchmark feeds the program.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from cdap_geo_spark import fixtures
from cdap_geo_spark.core import wkb as W

#: ids of seed s are [s * SEED_STRIDE, s * SEED_STRIDE + n); doc ids
#: print as 12 digits, so seeds up to 99,999 stay distinct
SEED_STRIDE = 10_000_000

#: far-field kNN probes, 40 km outside the top and right edges of the
#: extent: no point lies within the first annulus, so every seed needs
#: exactly one ring expansion (the seeded queries alone need one only
#: when a rare sparse-corner query occurs, which made the round count,
#: and so the run time, bimodal across seeds)
PROBES = (("probe-north", 350_000.0, 1_340_000.0),
          ("probe-east", 740_000.0, 650_000.0))

#: parquet files per documents table: bench.py's fixture layout
#: (max(2 * cores, 8) partitions at 4 cores), one scan task per file
DOC_FILES = 8

SPANS_TYPE = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32())]))
DOCS_ARROW = pa.schema([pa.field("doc_id", pa.string(), nullable=False),
                        pa.field("spans", SPANS_TYPE)])
QUERIES_ARROW = pa.schema([pa.field("query_id", pa.string(), nullable=False),
                           pa.field("geometry", pa.binary()),
                           pa.field("k", pa.int32())])


@dataclass(frozen=True)
class Sizes:
    docs: int
    regions: int
    queries: int


@dataclass
class Inputs:
    """Paths of the written tables plus the driver-side copies the
    output checks need (no check reads the program's own tables back)."""
    docs_path: str
    regions_path: str
    queries_path: str
    probes_path: str
    doc_ids: list
    doc_geoms: list
    region_ids: list
    region_geoms: list
    query_ids: list      # the seeded queries, then the PROBES
    query_geoms: list


def _mix(ids: np.ndarray, salt) -> np.ndarray:
    """splitmix64 finalizer per (id, salt): the fixture bit stream."""
    with np.errstate(over="ignore"):
        s = np.asarray(salt, dtype=np.uint64)
        z = ids.astype(np.uint64) + \
            np.uint64(0x9E3779B97F4A7C15) * (s + np.uint64(1))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _unit(ids: np.ndarray, salt) -> np.ndarray:
    return (_mix(ids, salt) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def documents(ids: np.ndarray) -> tuple:
    """(doc_id strings, geometry WKB list, spans lists) for ``ids``:
    1-8 spans per doc, exactly one geometry span carrying hex WKB,
    strictly increasing offsets, text and image spans interleaved."""
    m = len(ids)
    geoms = fixtures.doc_geometry_wkb(ids)
    nspans = 1 + (_mix(ids, 20) % np.uint64(8)).astype(np.int64)
    gpos = (_mix(ids, 21) % nspans.astype(np.uint64)).astype(np.int64)
    owner = np.repeat(np.arange(m), nspans)
    span_no = np.arange(len(owner)) - np.repeat(
        np.concatenate(([0], np.cumsum(nspans)[:-1])), nspans)
    oid = ids[owner]
    gaps = 1 + (_mix(oid, 22 + span_no.astype(np.uint64) * np.uint64(977))
                % np.uint64(500)).astype(np.int64)
    cum = np.cumsum(gaps)
    doc_base = np.concatenate(([0], cum[np.cumsum(nspans) - 1][:-1]))
    offsets = (cum - doc_base[owner]).astype(np.int64)
    is_geom = span_no == gpos[owner]
    is_img = ~is_geom & (_unit(oid, 40 + span_no.astype(np.uint64)) < 0.25)
    spans: list = [[] for _ in range(m)]
    for o, s, off, g, im in zip(owner, span_no, offsets, is_geom, is_img):
        i = int(ids[o])
        if g:
            span = ("geometry", None, geoms[o].hex(), int(off))
        elif im:
            span = ("image", None, f"img://{i}-{int(s)}", int(off))
        else:
            span = ("text", f"span text {i}-{int(s)}", None, int(off))
        spans[o].append(dict(zip(("kind", "text", "media_ref", "offset"),
                                 span)))
    names = [f"doc{int(i):012d}" for i in ids]
    return names, geoms, spans


def queries(ids: np.ndarray) -> tuple:
    """(query_id strings, point WKB list, k list), drawn as
    ``fixtures.knn_queries`` draws them."""
    x, y = fixtures.doc_coords(ids * 7919 + 13)
    return ([f"q{int(i):05d}" for i in ids], W.points_to_wkb(x, y),
            [(1, 5, 10)[int(i) % 3] for i in ids])


def _fresh_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def write(spark, root: str, seed: int, sizes: Sizes) -> Inputs:
    """Generate the seed's tables under ``root`` as parquet."""
    base = seed * SEED_STRIDE
    docs_path = os.path.join(root, "documents")
    regions_path = os.path.join(root, "regions")
    queries_path = os.path.join(root, "queries")
    probes_path = os.path.join(root, "probes")

    doc_ids, doc_geoms = [], []
    _fresh_dir(docs_path)
    chunks = np.array_split(np.arange(base, base + sizes.docs,
                                      dtype=np.int64), DOC_FILES)
    for part, ids in enumerate(chunks):
        names, geoms, spans = documents(ids)
        doc_ids += names
        doc_geoms += geoms
        pq.write_table(pa.table({"doc_id": names, "spans": spans},
                                schema=DOCS_ARROW),
                       os.path.join(docs_path, f"part-{part:05d}.parquet"))

    fixtures.regions(spark, sizes.regions).write.mode("overwrite") \
        .parquet(regions_path)
    reg = pq.read_table(regions_path, columns=["region_id", "geometry"])

    qids, qgeoms, ks = queries(np.arange(base, base + sizes.queries,
                                         dtype=np.int64))
    pids = [p[0] for p in PROBES]
    pgeoms = W.points_to_wkb(np.array([p[1] for p in PROBES]),
                             np.array([p[2] for p in PROBES]))
    for path, table in ((queries_path, (qids, qgeoms, ks)),
                        (probes_path, (pids, pgeoms, [10] * len(pids)))):
        _fresh_dir(path)
        pq.write_table(pa.table(dict(zip(("query_id", "geometry", "k"),
                                         table)), schema=QUERIES_ARROW),
                       os.path.join(path, "part-00000.parquet"))
    return Inputs(docs_path, regions_path, queries_path, probes_path,
                  doc_ids, doc_geoms, reg.column("region_id").to_pylist(),
                  reg.column("geometry").to_pylist(), qids + pids,
                  qgeoms + list(pgeoms))
