"""The flagship pipeline as a deployable spark-submit job.

North-rule deployment contract: the engine's headline job — spatial
join of interleaved documents against regions + raster tile assignment
— must run via ``spark-submit --py-files`` on a multi-executor cluster,
resume idempotently from a checkpoint manifest, and preserve the
per-row span-sequence invariant (kind, text, media_ref, order) through
every stage.

Usage (cluster):

    python scripts/package.py                      # builds the zip
    spark-submit --master <cluster> \
        --py-files dist/cdap_geo_spark.zip \
        scripts/submit_sjoin_tile.py \
        --docs /data/documents --regions /data/regions \
        --out /data/out/sjoin_tile

Usage (local / tests): ``python -m cdap_geo_spark.jobs.sjoin_tile ...``
(builds its own local session when spark-submit didn't provide one).

Stage layout (each one a :class:`~cdap_geo_spark.plans.manifest.Manifest`
stage — parquet data + per-partition lineage/metrics JSON, committed
manifest-last so a crash anywhere re-runs exactly the unfinished
stages; identical params + input files skip, an input rewritten in
place re-runs):

1. ``pairs_tiled``  — extract the primary geometry (native expressions
   over the spans array, zero Python); read the regions once and index
   their cells in the driver; one Python pass over the docs that
   decodes, covers, probes the region cells, refines each doc once and
   tiles each matched doc from the same decoded batch (when the
   regions are too large to collect: the cell equi-join, then a
   map-side tile pass of its own); one narrow dedup ->
   (doc_id, region_id, tile_id).
2. ``enriched``     — join the matches back to the source documents by
   doc_id so every output row carries the ORIGINAL spans payload
   (one AQE-planned equi-join; the wide spans column never rides
   through the spatial shuffles of stage 1).

After the stages commit, the job (by default) verifies the span
invariant: every output row's span sequence must be bit-identical to
its source document's (order-sensitive md5 over the json-serialized
array). ``--no-check-invariant`` skips the extra pass at scale.

Reference parity: this packages the same semantics a cdap_geo user
gets from ``sjoin`` + ``bbox_index`` (``cdap_geo/index_bbox.py:73-76``,
``cdap_geo/indexing.py``) as one resumable production job.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession, functions as F


def build_pairs_tiled(spark: SparkSession, docs_path: str,
                      regions_path: str, *, level: int, bbox: tuple,
                      splits: int) -> DataFrame:
    from cdap_geo_spark import docs as D
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.operators.tiles import assign_tiles

    docs = D.with_geometry(
        spark.read.parquet(docs_path).select("doc_id", "spans"))
    regions = spark.read.parquet(regions_path) \
        .select("region_id", "geometry")
    pairs = sjoin_pairs(docs.select("doc_id", "geometry"), regions,
                        left_id="doc_id", right_id="region_id",
                        level=level, dedup=False, keep_left_geom=True)
    tiled = assign_tiles(pairs, bbox=bbox, splits=splits,
                         keep=("region_id",))
    return tiled.dropDuplicates(["doc_id", "region_id", "tile_id"])


def run(spark: SparkSession, *, docs: str, regions: str, out: str,
        level: int = 7, splits: int = 10,
        bbox: tuple = (0, 0, 700_000, 1_300_000),
        check_invariant: bool = True) -> dict:
    """Run (or resume) the full job; returns the summary dict."""
    from cdap_geo_spark import docs as D
    from cdap_geo_spark.plans.manifest import (Manifest, engine_identity,
                                               fingerprint, input_identity)

    man = Manifest(spark, out)
    fp1 = fingerprint("pairs_tiled", engine_identity(), input_identity(docs),
                      input_identity(regions), level, bbox, splits)
    s1 = man.run_stage(
        "pairs_tiled", fp1,
        lambda: build_pairs_tiled(spark, docs, regions, level=level,
                                  bbox=bbox, splits=splits))

    fp2 = fingerprint("enriched", fp1)
    s2 = man.run_stage(
        "enriched", fp2,
        lambda: man.read("pairs_tiled").join(
            spark.read.parquet(docs).select("doc_id", "spans"), "doc_id"))

    summary = {
        "stages": [
            {"name": r.name, "rows": r.rows, "skipped": r.skipped,
             "wall_ms": r.wall_ms, "files": len(r.files)}
            for r in (s1, s2)
        ],
        "out": out,
        "rows": s2.rows,
    }
    if check_invariant:
        violations = D.check_span_invariant(
            spark.read.parquet(docs).select("doc_id", "spans"),
            man.read("enriched"))
        summary["span_invariant_violations"] = violations
        if violations:
            raise RuntimeError(
                f"span invariant violated on {violations} docs")
    return summary


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        prog="sjoin_tile",
        description="sjoin + tile-assign job (resumable, manifest-"
                    "checkpointed); see module docstring")
    ap.add_argument("--docs", required=True,
                    help="parquet dir: (doc_id, spans) interleaved docs")
    ap.add_argument("--regions", required=True,
                    help="parquet dir: (region_id, geometry WKB)")
    ap.add_argument("--out", required=True,
                    help="manifest root (stages + data land under it)")
    ap.add_argument("--level", type=int, default=7)
    ap.add_argument("--splits", type=int, default=10)
    ap.add_argument("--bbox", type=int, nargs=4,
                    default=(0, 0, 700_000, 1_300_000),
                    metavar=("X0", "Y0", "X1", "Y1"))
    ap.add_argument("--no-check-invariant", action="store_true",
                    help="skip the span-sequence verification pass")
    args = ap.parse_args(argv)

    # under spark-submit the session already carries the submit conf;
    # under plain python fall back to the engine's local session
    active = SparkSession.getActiveSession()
    if active is not None:
        spark = active
    else:
        builder = SparkSession.builder.appName("cdap_geo_spark.sjoin_tile")
        spark = builder.getOrCreate()
    summary = run(spark, docs=args.docs, regions=args.regions,
                  out=args.out, level=args.level, splits=args.splits,
                  bbox=tuple(args.bbox),
                  check_invariant=not args.no_check_invariant)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
