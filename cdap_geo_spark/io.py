"""Ingest + spatially-clustered storage layout.

The reference's ``ingest`` (``cdap_geo/read.py:120-160``) reads layers,
assigns a coarse BNG cell per row, then ``repartition('bng')`` so rows
are spatially co-located at rest, and finally patches geo metadata
into the parquet footer (``cdap_geo/write.py:14-78``). The Spark-first
version:

* cell assignment is one fused Arrow pass (``st_cell_point``);
* layout is ``repartitionByRange(cell_id) + sortWithinPartitions`` —
  range partitioning beats hash ``repartition`` here because parquet
  min/max column stats then give PARTITION PRUNING on cell ranges for
  free (a filter or a cell-join probe skips untouched files);
* the write is a checkpointed manifest stage: per-file row counts and
  bytes come from the parquet footers, so no stats scan follows the
  write (the reference re-scans, ``cdap_geo/write.py:35-54``); the
  stage fingerprint hashes the input's analyzed plan and the files it
  reads, so a different or rewritten input rebuilds instead of
  resuming stale output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cdap_geo_spark import udfs
from cdap_geo_spark.core import cells as C
from cdap_geo_spark.plans.manifest import (Manifest, engine_identity,
                                           fingerprint, input_identity)


def with_cell_id(df: DataFrame, geom_col: str = "geometry",
                 level: int = C.LEVEL_1KM, out: str = "cell_id") -> DataFrame:
    """Single storage cell per row (geometry bbox min corner), the
    reference's per-row coarse BNG ref (``cdap_geo/read.py:157``)."""
    return df.withColumn(out, udfs.st_cell_point(level)(F.col(geom_col)))


def ingest(spark: SparkSession, docs: DataFrame, out_root: str, *,
           geom_col: str = "geometry", level: int = C.LEVEL_1KM,
           stage: str = "ingest", partitions: int | None = None,
           params: tuple = ()) -> DataFrame:
    """Checkpointed spatial-clustering ingest: cell assign ->
    repartitionByRange(cell_id) -> sorted parquet + manifest.

    Returns the (possibly resumed) clustered DataFrame.
    """
    man = Manifest(spark, out_root)
    fp = fingerprint("ingest", engine_identity(), level, partitions, params,
                     docs._jdf.queryExecution().analyzed().semanticHash(),
                     [input_identity(f) for f in sorted(docs.inputFiles())])

    def build():
        d = with_cell_id(docs, geom_col, level)
        n = partitions or max(spark.sparkContext.defaultParallelism, 8)
        return (d.repartitionByRange(n, "cell_id")
                 .sortWithinPartitions("cell_id"))

    man.run_stage(stage, fp, build)
    return man.read(stage)


def merged_column_names(columns: list, splitter: str = "-") -> list:
    """SQL select-expressions merging ``col-type`` suffixed columns —
    the reference's schema-evolution helper for parquet datasets written
    from heterogeneous source files (``cdap_geo/write.py:160-196``):

    * one type -> plain rename;
    * int64 + double -> COALESCE-style CASE into a float column;
    * list<item: T> + T -> CASE wrapping the scalar into an array;
    * anything else keeps the type-suffixed names side by side.
    """
    lone = "`{0}{s}{1}` AS `{0}`"
    listcol = ("CASE WHEN (`{0}{s}list<item: {1}>` IS NOT NULL) "
               "THEN `{0}{s}list<item: {1}>` "
               "ELSE ARRAY(`{0}{s}{1}`) END AS `{0}`")
    floatcol = ("CASE WHEN (`{0}{s}double` IS NOT NULL) "
                "THEN `{0}{s}double` "
                "ELSE CAST(`{0}{s}int64` AS DOUBLE) END AS `{0}`")
    by_col: dict = {}
    for c in columns:
        name, _, typ = c.partition(splitter)
        by_col.setdefault(name, []).append(typ)
    out = []
    for col, typs in by_col.items():
        if len(typs) == 1:
            out.append(lone.format(col, typs[0], s=splitter))
        elif len(typs) == 2 and set(typs) == {"int64", "double"}:
            out.append(floatcol.format(col, s=splitter))
        elif (len(typs) == 2
              and f"list<item: {min(typs, key=len)}>" == max(typs, key=len)):
            out.append(listcol.format(col, min(typs, key=len), s=splitter))
        else:
            out.extend(f"`{col}{splitter}{t}`" for t in typs)
    return out


def merge_columns(df: DataFrame, splitter: str = "-") -> DataFrame:
    """Apply :func:`merged_column_names` (``cdap_geo/write.py:198-202``)."""
    return df.selectExpr(*merged_column_names(df.columns, splitter))


def distributed_to_parquet(spark: SparkSession, paths: list | str,
                           path_out: str, writer) -> DataFrame:
    """Parallel many-files -> parquet conversion
    (``cdap_geo/write.py:138-153``): one task per source file runs
    ``writer(filepath, name) -> written-path`` (any per-file codec —
    the reference injects a geopandas writer), then the merged dataset
    is read back with schema merging for :func:`merge_columns`.

    Spark-first shape: the file list is a DataFrame repartitioned to
    one file per task (pipeline parallelism without any driver loop),
    and the writer runs inside ``mapInPandas`` — Arrow batches, not a
    per-row Python UDF.
    """
    import glob as _glob
    import os

    import pandas as pd
    from pyspark.sql import types as T

    files = (_glob.glob(paths) if isinstance(paths, str) else list(paths))
    if not files:
        raise ValueError(f"no input files under {paths!r}")
    fdf = spark.createDataFrame(
        pd.DataFrame({"filepath": sorted(files)}))
    fdf = fdf.repartition(len(files), "filepath")

    def gen(batches):
        for pdf in batches:
            outs = []
            for f in pdf["filepath"]:
                name = os.path.splitext(os.path.basename(f))[0] + "-{i}"
                outs.append(writer(f, name))
            yield pd.DataFrame({"filepath": pdf["filepath"],
                                "filepath_out": outs})

    schema = T.StructType([T.StructField("filepath", T.StringType()),
                           T.StructField("filepath_out", T.StringType())])
    fdf.mapInPandas(gen, schema=schema).write.format("noop") \
        .mode("overwrite").save()
    return spark.read.option("mergeSchema", True).parquet(path_out)


def cell_range_filter(df: DataFrame, minx: float, miny: float,
                      maxx: float, maxy: float, level: int = C.LEVEL_1KM,
                      cell_col: str = "cell_id") -> DataFrame:
    """Prune a cell-clustered table to a bbox window.

    Uses the cell ids of the window's cover as an IN-list / range
    probe; with the ``ingest`` layout, parquet min/max stats on the
    sorted cell_id column skip whole files. Geometry-exact filtering
    still needs a refinement pass downstream.
    """
    import numpy as np
    off, cc = C.cover_bbox(
        np.array([[minx, miny, maxx, maxy]]), level, pad=0.0)
    ids = [int(v) for v in cc]
    return df.where(F.col(cell_col).isin(ids))


def make_wkb_writer(path_out: str):
    """The WKB-pandas stand-in for the reference's geopandas writer
    ``writer_gpd`` (``cdap_geo/write.py:128-133``; geopandas itself is
    out of scope by SURVEY §1.4): a per-file codec for
    :func:`distributed_to_parquet` that reads ONE vector file
    (GeoJSON or GPKG) into a pyarrow table whose ``geometry`` column
    is plain WKB, renames attribute columns ``col-{type}`` so
    heterogeneous schemas merge back through :func:`merge_columns`,
    and writes one dataset file under ``path_out``.

    Each file's GeoParquet ``geo`` footer is stamped HERE, inside the
    task, from the file's own WKB bounds — every output file carries
    its footer with zero driver-side patching (the reference's
    post-hoc ``geoparquetify`` rewrite does not distribute; at scale
    a per-file rewrite loop on the driver would dominate the job).
    """
    def writer(filepath: str, name: str) -> str:
        import json
        import os

        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from cdap_geo_spark.core.wkb import parse_wkb

        ext = os.path.splitext(filepath)[1].lower()
        if ext in (".geojson", ".json"):
            from cdap_geo_spark.sources.geojson import (
                geojson_geometry_to_wkb)
            with open(filepath) as fh:
                fc = json.load(fh)
            feats = fc.get("features", [])
            keys: dict = {}
            for ft in feats:
                for k in (ft.get("properties") or {}):
                    keys.setdefault(k)
            cols = {k: [(ft.get("properties") or {}).get(k)
                        for ft in feats] for k in keys}
            wkbs = [geojson_geometry_to_wkb(ft.get("geometry"))
                    for ft in feats]
        elif ext == ".gpkg":
            from cdap_geo_spark.sources import gpkg as G
            layer = G.list_layers(filepath)[0]
            with G._connect_ro(filepath) as con:
                row = con.execute(
                    "SELECT column_name FROM gpkg_geometry_columns "
                    "WHERE table_name = ?", (layer,)).fetchone()
                geom_col = row[0] if row else "geom"
                info = con.execute(f'PRAGMA table_info("{layer}")') \
                          .fetchall()
                attr = [nm for _, nm, *_ in info if nm != geom_col]
                sel = ", ".join(f'"{c}"' for c in attr + [geom_col])
                data = con.execute(
                    f'SELECT {sel} FROM "{layer}"').fetchall()
            cols = {c: [r[i] for r in data] for i, c in enumerate(attr)}
            wkbs = [G._split_gpb(r[len(attr)])[1] for r in data]
        else:
            raise ValueError(
                f"make_wkb_writer: unsupported vector format {ext!r} "
                f"({filepath}) — GeoJSON and GPKG readers are built "
                f"in; inject your own writer into "
                f"distributed_to_parquet for other formats")

        arrays, names = [], []
        for k, vals in cols.items():
            arr = pa.array(vals)
            arrays.append(arr)
            names.append(f"{k}-{arr.type}")
        # reference parity: EVERY column is suffixed col-{type} so
        # merged_column_names can fold heterogeneous schemas — the
        # geometry column reads back as plain 'geometry' after
        # merge_columns
        arrays.append(pa.array(wkbs, type=pa.binary()))
        names.append("geometry-binary")
        table = pa.table(dict(zip(names, arrays)))

        b = parse_wkb(wkbs).bounds()
        finite = b[~np.isnan(b[:, 0])]
        bbox = ([float(finite[:, 0].min()), float(finite[:, 1].min()),
                 float(finite[:, 2].max()), float(finite[:, 3].max())]
                if len(finite) else [0.0, 0.0, 0.0, 0.0])
        geo = {"primary_column": "geometry-binary",
               "columns": {"geometry-binary": {
                   "crs": None, "encoding": "WKB", "bbox": bbox}},
               "schema_version": "0.1.0",
               "creator": {"library": "cdap_geo_spark"}}
        meta = dict(table.schema.metadata or {})
        meta[b"geo"] = json.dumps(geo).encode("utf-8")
        table = table.replace_schema_metadata(meta)
        os.makedirs(path_out, exist_ok=True)
        out = os.path.join(path_out, name.format(i=0) + ".parquet")
        pq.write_table(table, out)
        return out
    return writer


def distributed_to_geoparquet(spark: SparkSession, paths: list | str,
                              path_out: str) -> DataFrame:
    """Many vector files -> one merged GeoParquet dataset, one task
    per file (``cdap_geo/write.py:154-158`` parity name): the
    :func:`make_wkb_writer` codec runs inside
    :func:`distributed_to_parquet`'s ``mapInPandas`` fan-out, so every
    output file is written WITH its GeoParquet footer in-task; the
    merged read-back goes through :func:`merge_columns` to fold the
    ``col-{type}`` split columns."""
    out = distributed_to_parquet(spark, paths, path_out,
                                 make_wkb_writer(path_out))
    return merge_columns(out)
