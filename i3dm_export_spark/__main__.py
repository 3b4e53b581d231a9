"""EP1: the user-facing CLI, flag-compatible with the reference.

The reference's only entry point is ``i3dm.export -c <connection> -t
<table> [...]`` (src/Program.cs:19-27, src/Options.cs:5-55). This CLI
keeps every reference flag with identical names/defaults; ``-c`` is the
input location (a parquet/Iceberg table path or directory) instead of a
PostGIS connection string, and ``-t`` the table (sub-path) under it.

Input schema: lon/lat[/z] columns, or a WKB point column named by
``--geometrycolumn`` (decoded in an Arrow batch, reference
src/InstancesRepository.cs:42 ``ST_AsBinary``); yaw/pitch/roll, or the
legacy ``rotation`` fallback (src/InstancesRepository.cs:142-159).

Run: ``python -m i3dm_export_spark -c /data/instances -o ./out --use_i3dm``
or via ``spark-submit --py-files $(python -c 'from i3dm_export_spark.
packaging import build_pyfiles_zip; print(build_pyfiles_zip())')``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import pandas as pd  # module-level: pandas-UDF type hints resolve from here


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="i3dm_export_spark",
        description="PySpark-native i3dm.export: instanced 3D Tiles from a "
        "geocoded instance table",
    )
    # ---- reference flags (src/Options.cs), same names and defaults ----
    # required unless --vacuum_checkpoints (validated in main: maintenance
    # mode needs only -o/--checkpoint_dir)
    p.add_argument("-c", "--connection", default=None,
                   help="input table location (parquet/Iceberg path)")
    p.add_argument("-t", "--table", default="",
                   help="table (sub-path) under the connection location")
    p.add_argument("--geometrycolumn", default="geom",
                   help="WKB point column (used when lon/lat absent)")
    p.add_argument("-g", "--geometricerror", type=float, default=1000.0)
    p.add_argument("-o", "--output", default="./output")
    p.add_argument("--boundingvolume_heights", default="0,10",
                   help="min,max meters")
    p.add_argument("-q", "--query", default="",
                   help="boolean SQL predicate applied to the scan")
    p.add_argument("--max_features_per_tile", type=int, default=1000)
    p.add_argument("--use_gpu_instancing", action="store_true")
    p.add_argument("--use_scale_non_uniform", action="store_true")
    p.add_argument("--tileset_version", default="")
    p.add_argument("--keep_projection", action="store_true")
    p.add_argument("--use_i3dm", action="store_true")
    p.add_argument("--use_external_model", action="store_true")
    p.add_argument("--use_clustering", action="store_true")
    # ---- engine extensions ----
    # default=None is a sentinel: an explicit flag (any spelling argparse
    # accepts, incl. --source_epsg=NNNN and prefix abbreviations) always
    # wins over the data-driven CRS sniff/probe; absent → sniff, else 4326
    p.add_argument("--source_epsg", type=int, default=None,
                   help="EPSG of input coordinates (reprojected at ingest); "
                   "overrides the GeoParquet/JDBC CRS sniff. Default: "
                   "sniffed from the data, else 4326")
    p.add_argument("--max_level", type=int, default=20)
    p.add_argument("--subtree_levels", type=int, default=2)
    p.add_argument("--model", action="append", default=[],
                   metavar="NAME=GLB_PATH",
                   help="model side input (repeatable); NAME matches the "
                   "table's model column")
    p.add_argument("--master", default=None,
                   help="Spark master (default local[all cores])")
    p.add_argument("--checkpoint_dir", default=None)
    p.add_argument("--vacuum_checkpoints", action="store_true",
                   help="garbage-collect the checkpoint root (crash "
                   "scratch, markerless stages, orphaned lineage) and "
                   "exit — no export runs. Prints a JSON report")
    p.add_argument("--fsck", action="store_true",
                   help="audit the export at -o against its sink manifests "
                   "(missing/corrupt/orphaned tiles, tmp residue) and exit "
                   "— no export runs. Prints a JSON report; exit code 1 "
                   "when the audit fails")
    p.add_argument("--fsck_remove_tmp", action="store_true",
                   help="with --fsck: delete *.tmp.* staging leftovers")
    p.add_argument("--snapshot", action="store_true",
                   help="archive the export at -o as a new generation "
                   "(zero-copy hard links) and exit")
    p.add_argument("--snapshot_note", default="",
                   help="free-text note recorded with --snapshot")
    p.add_argument("--list_snapshots", action="store_true",
                   help="print the export's generations as JSON and exit")
    p.add_argument("--rollback", type=int, default=None, metavar="GEN",
                   help="restore snapshot generation GEN at -o (the "
                   "current state is auto-archived first) and exit")
    p.add_argument("--expire_snapshots", type=int, default=None,
                   metavar="KEEP", help="drop all but the newest KEEP "
                   "generations and exit")
    p.add_argument("--query_bbox", default=None,
                   metavar="MINLON,MINLAT,MAXLON,MAXLAT",
                   help="serving-path query against the export at -o: "
                   "print intersecting tiles + instance count as JSON "
                   "and exit")
    p.add_argument("--append", action="store_true",
                   help="treat -c as a NEW batch to append to the existing "
                   "export at -o: only dirty tiles re-encode "
                   "(plans/incremental). Export options are taken from the "
                   "base export's recorded snapshot; geometry-affecting "
                   "flags on this invocation are ignored")
    # ---- JDBC/PostGIS ingest (engaged when -c is a connection string) ----
    p.add_argument("--jdbc_partition_column", default=None,
                   help="numeric column for parallel JDBC range cursors")
    p.add_argument("--jdbc_num_partitions", type=int, default=32)
    p.add_argument("--jdbc_lower_bound", type=int, default=None)
    p.add_argument("--jdbc_upper_bound", type=int, default=None)
    p.add_argument("--jdbc_columns", default=None,
                   help="comma-separated attribute columns to project from "
                   "the JDBC table (default: url,scale,rotation,yaw,pitch,"
                   "roll,model,tags); set this when the source table lacks "
                   "one of the defaults")
    return p


def _input_path(connection: str, table: str) -> str:
    if not table:
        return connection
    for cand in (
        os.path.join(connection, table),
        os.path.join(connection, f"{table}.parquet"),
    ):
        if os.path.exists(cand):
            return cand
    return os.path.join(connection, table)


def load_instances(spark, path: str, geometry_column: str,
                   use_gpu_instancing: bool):
    """Read the table; normalize to lon/lat/z + yaw/pitch/roll columns."""
    from pyspark.sql import functions as F

    from .packaging import ensure_shipped
    from .sources.tables import orientation_select, schema_columns

    df = spark.read.parquet(path)
    cols = schema_columns(df)

    if "lon" not in cols or "lat" not in cols:
        gcol = geometry_column.lower()
        if gcol not in cols:
            raise SystemExit(
                f"input needs lon/lat columns or a '{geometry_column}' WKB "
                f"column; found: {sorted(cols)}"
            )
        ensure_shipped(spark)

        @F.pandas_udf("lon double, lat double, z double")
        def _decode(blobs: pd.Series) -> pd.DataFrame:
            from .functions.wkb import decode_wkb_points

            import numpy as np

            pts = decode_wkb_points(blobs.to_numpy())
            # 2D points decode with z = NaN; the reference forces z = 0
            # via st_force3d (src/InstancesRepository.cs:42,52)
            z = np.nan_to_num(pts[:, 2], nan=0.0)
            return pd.DataFrame({"lon": pts[:, 0], "lat": pts[:, 1], "z": z})

        df = (
            df.withColumn("_pt", _decode(F.col(geometry_column)))
            .select("*", "_pt.*")
            .drop("_pt", geometry_column)
        )
        cols = schema_columns(df)

    if not {"yaw", "pitch", "roll"} <= cols:
        extra = orientation_select(df, use_gpu_instancing)
        df = df.select("*", *extra)
        if "rotation" in cols:
            df = df.drop("rotation")
    return df


def main(argv=None, spark=None) -> dict:
    args = build_parser().parse_args(argv)

    from .config import ExportOptions
    from .plans.pipeline import run_export
    from .session import get_spark

    if args.vacuum_checkpoints:
        # maintenance mode: no Spark session, no export — pure filesystem
        from .plans.checkpoint import vacuum

        root = args.checkpoint_dir or os.path.join(args.output, "_checkpoints")
        report = vacuum(root)
        print(json.dumps(report))
        return report

    if (args.snapshot or args.list_snapshots or args.rollback is not None
            or args.expire_snapshots is not None):
        # maintenance mode: generation archive — pure filesystem, no Spark
        from .plans import snapshots as snaps

        if args.snapshot:
            report = snaps.create_snapshot(args.output,
                                           note=args.snapshot_note,
                                           checkpoint_dir=args.checkpoint_dir)
        elif args.list_snapshots:
            report = {"snapshots": snaps.list_snapshots(args.output)}
        elif args.rollback is not None:
            report = snaps.rollback(args.output, args.rollback,
                                    checkpoint_dir=args.checkpoint_dir)
        else:
            report = {"expired": snaps.expire_snapshots(
                args.output, args.expire_snapshots)}
        print(json.dumps(report))
        return report

    if args.query_bbox is not None:
        # serving mode: answer a bbox query from manifests + checkpoints
        from .plans.serve import query_bbox_summary

        try:
            bbox = tuple(float(v) for v in args.query_bbox.split(","))
            if len(bbox) != 4:
                raise ValueError
        except ValueError:
            raise SystemExit(
                f"--query_bbox: expected 'minlon,minlat,maxlon,maxlat', "
                f"got {args.query_bbox!r}"
            )
        # a session starts only when a budget sends a side to Spark
        started = []

        def session():
            if not started:
                started.append(get_spark(app_name="i3dm_export_spark_query",
                                         master=args.master))
            return started[0]

        try:
            report = query_bbox_summary(
                spark or session, args.output, bbox,
                checkpoint_dir=args.checkpoint_dir)
        finally:
            for s in started:
                s.stop()
        print(json.dumps(report))
        return report

    if args.fsck:
        # maintenance mode: distributed manifest audit of an existing export
        from .plans.fsck import fsck_export

        own = spark is None
        if own:
            spark = get_spark(app_name="i3dm_export_spark_fsck",
                              master=args.master)
        try:
            report = fsck_export(
                spark, args.output, checkpoint_dir=args.checkpoint_dir,
                remove_tmp=args.fsck_remove_tmp,
            )
        finally:
            if own:
                spark.stop()
        print(json.dumps(report))
        if not report["ok"]:
            raise SystemExit(1)
        return report

    if args.connection is None:
        raise SystemExit("the following arguments are required: -c/--connection")

    try:
        heights = tuple(float(v) for v in args.boundingvolume_heights.split(","))
    except ValueError:
        raise SystemExit(
            f"--boundingvolume_heights: expected 'min,max' numbers, got "
            f"{args.boundingvolume_heights!r}"
        )
    # validate arity/order here (reference parses exactly min,max); a bad
    # value otherwise only fails deep inside tileset/encode (ADVICE r2)
    if len(heights) != 2:
        raise SystemExit(
            f"--boundingvolume_heights: expected exactly 2 values 'min,max', "
            f"got {len(heights)} in {args.boundingvolume_heights!r}"
        )
    if heights[0] > heights[1]:
        raise SystemExit(
            f"--boundingvolume_heights: min {heights[0]} > max {heights[1]}"
        )
    opts = ExportOptions(
        geometric_error=args.geometricerror,
        max_features_per_tile=args.max_features_per_tile,
        boundingvolume_heights=heights,  # type: ignore[arg-type]
        query=args.query,
        use_clustering=args.use_clustering,
        use_i3dm=args.use_i3dm,
        use_gpu_instancing=args.use_gpu_instancing,
        keep_projection=args.keep_projection,
        use_scale_non_uniform=args.use_scale_non_uniform,
        use_external_model=args.use_external_model,
        tileset_version=args.tileset_version,
        output=args.output,
        source_epsg=args.source_epsg if args.source_epsg is not None else 4326,
        max_level=args.max_level,
    )

    own_session = spark is None
    if own_session:
        spark = get_spark(app_name="i3dm_export_spark_cli", master=args.master)
    try:
        from .sources.jdbc import is_jdbc_connection

        if is_jdbc_connection(args.connection):
            # PostGIS/JDBC route (reference dialect: -c is an ADO.NET
            # connection string, -t the geometry table). SRID comes from
            # the reference's 1-row ST_SRID probe unless --source_epsg
            # was given explicitly.
            from .sources.jdbc import load_jdbc_instances, probe_srid

            if not args.table:
                raise SystemExit("JDBC input needs -t/--table")
            pages = load_jdbc_instances(
                spark, args.connection, args.table,
                geometry_column=args.geometrycolumn, query=args.query,
                partition_column=args.jdbc_partition_column,
                num_partitions=args.jdbc_num_partitions,
                lower_bound=args.jdbc_lower_bound,
                upper_bound=args.jdbc_upper_bound,
                extra_cols=(
                    tuple(c.strip() for c in args.jdbc_columns.split(","))
                    if args.jdbc_columns else None
                ),
            )
            if args.source_epsg is None:
                import dataclasses

                opts = dataclasses.replace(
                    opts,
                    source_epsg=probe_srid(
                        spark, args.connection, args.table,
                        geometry_column=args.geometrycolumn, query=args.query,
                    ),
                )
        else:
            in_path = _input_path(args.connection, args.table)
            geom_col = args.geometrycolumn
            # data-driven source CRS, parquet side (the reference probes
            # ST_SRID from the data, src/SpatialReferenceRepository.cs:6-12;
            # GeoParquet carries the CRS in the footer's `geo` metadata).
            # Footer-only — no data rows. An explicit --source_epsg wins.
            from .sources.geoparquet import sniff_crs

            epsg, primary_col = sniff_crs(in_path)
            if primary_col and geom_col == "geom":
                geom_col = primary_col
            if epsg is not None and args.source_epsg is None:
                import dataclasses

                opts = dataclasses.replace(opts, source_epsg=epsg)
            pages = load_instances(
                spark, in_path, geom_col, args.use_gpu_instancing,
            )
        model_glbs = {}
        for spec in args.model:
            name, _, path = spec.partition("=")
            if not path:
                raise SystemExit(f"--model expects NAME=GLB_PATH, got {spec!r}")
            model_glbs[name] = path
        if args.append:
            from .plans.incremental import incremental_append

            summary = incremental_append(
                pages, args.output,
                checkpoint_dir=args.checkpoint_dir,
                model_glbs=model_glbs or None,
            )
        else:
            summary = run_export(
                pages, opts, args.output,
                checkpoint_dir=args.checkpoint_dir,
                subtree_levels=args.subtree_levels,
                model_glbs=model_glbs or None,
            )
        print(json.dumps(summary, default=str))
        return summary
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
