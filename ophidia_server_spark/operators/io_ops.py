"""I/O operator pack: import/export/concat/publish/fs/merge/split.

Reference surface: oph_importnc :114, oph_importcsv :115, oph_exportnc
:116-117, oph_exportcsv :118, oph_concatnc :134, oph_publish :121,
oph_merge :109, oph_split :108 (all /root/reference/src/oph_json_objkeys.h);
oph_fs scan used by file-massive ops (oph_massive_operations.c:35).

NetCDF: classic / 64-bit-offset files decode and encode through the
pure-Python codec in sources/netcdf3.py (no external library needed); the
file list is parallelized and each task decodes its files into Arrow batches
via mapInPandas (partition by file × hyperslab at scale). HDF5-backed
netCDF-4 files fall back to xarray when it is installed.
"""

from __future__ import annotations

import glob as _glob
import json as _json
import os
import re
from typing import Iterator

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ophidia_server_spark.cube import DIM_COL, MEASURE_COL, Cube, build_cube
from ophidia_server_spark.subset import quote_ident


def oph_importcsv(
    spark: SparkSession, path: str, explicit_dims: list[str], implicit_dim: str,
    value: str, schema: str | None = None,
) -> Cube:
    """CSV -> cube (oph_importcsv). Explicit schema preferred: inference scans
    the data twice, and a 100 TB import should never infer."""
    reader = spark.read.option("header", "true")
    reader = reader.schema(schema) if schema else reader.option("inferSchema", "true")
    df = reader.csv(path)
    return build_cube(df, explicit_dims, implicit_dim, F.col(value), measure=value)


def oph_exportcsv(cube: Cube, path: str, header: bool = True) -> None:
    """Cube -> CSV files (oph_exportcsv): the exploded long form, one file per
    partition (distributed write; no driver collect)."""
    cube.long().write.mode("overwrite").option("header", str(header).lower()).csv(path)


def _wrap_or_build(
    df: DataFrame, explicit_dims: list[str], implicit_dim: str,
    value: str, measure: str | None,
) -> Cube:
    """Packed files (written by oph_export{parquet,orc}: __dim/__m columns)
    rewrap directly — no re-gridding shuffle; long-form files build_cube."""
    if DIM_COL in df.columns and MEASURE_COL in df.columns:
        return Cube(
            df=df, explicit_dims=tuple(explicit_dims),
            implicit_dims=(implicit_dim,), measure=measure or value,
        )
    return build_cube(df, explicit_dims, implicit_dim, F.col(value), measure=measure or value)


def oph_importparquet(
    spark: SparkSession, path: str, explicit_dims: list[str], implicit_dim: str,
    value: str, measure: str | None = None,
) -> Cube:
    """Parquet -> cube: the container-native ingest path (stands in for
    oph_importnc where netCDF libs are unavailable; same signature shape).
    Re-opens packed stores written by oph_exportparquet without re-gridding."""
    df = spark.read.parquet(path)
    return _wrap_or_build(df, explicit_dims, implicit_dim, value, measure)


def oph_exportparquet(
    cube: Cube, path: str, sorted_by: list[str] | None = None,
    n_files: int | None = None,
) -> None:
    """Cube -> parquet in packed form (preserves the array layout).

    `sorted_by` range-clusters the store on the given explicit dims
    (repartitionByRange + sortWithinPartitions) before writing: each output
    file then covers a narrow, non-overlapping dim range, so parquet
    min/max statistics prune whole files and row groups for dim-range
    queries — the catalog-free analogue of the reference's fragment pruning
    (oph_ophidiadb_query.h:48), and the knob that matters at 100 TB where
    a subset query should touch only the files its range intersects."""
    df = cube.df
    if sorted_by:
        cols = [F.col(c) for c in sorted_by]
        # n_files pins the file count (bytes/128MB at scale); default lets
        # AQE coalesce — the right call when the cube is small
        df = (
            df.repartitionByRange(n_files, *cols) if n_files
            else df.repartitionByRange(*cols)
        ).sortWithinPartitions(*cols)
    df.write.mode("overwrite").parquet(path)


def oph_importorc(
    spark: SparkSession, path: str, explicit_dims: list[str], implicit_dim: str,
    value: str, measure: str | None = None,
) -> Cube:
    """ORC -> cube: the other first-class Hadoop columnar format, read with
    Spark's native ORC source (predicate pushdown + column pruning apply
    exactly as for parquet). Re-opens packed stores written by
    oph_exportorc without re-gridding."""
    df = spark.read.orc(path)
    return _wrap_or_build(df, explicit_dims, implicit_dim, value, measure)


def oph_exportorc(cube: Cube, path: str) -> None:
    """Cube -> ORC in packed form (ORC lists preserve the array layout)."""
    cube.df.write.mode("overwrite").orc(path)


_ARROW_TO_SPARK = {
    "int8": "tinyint", "int16": "smallint", "int32": "int", "int64": "bigint",
    "float": "float", "double": "double", "string": "string",
    "large_string": "string", "bool": "boolean",
}


def _arrow_spark_type(t) -> str:
    """Spark DDL type for a pyarrow type (the cube interchange subset:
    scalars, decimals, timestamps + lists of them). Anything else raises
    with the type named."""
    import pyarrow as pa

    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{_arrow_spark_type(t.value_type)}>"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    s = _ARROW_TO_SPARK.get(str(t))
    if s is None:
        raise ValueError(f"unsupported Arrow type for import: {t}")
    return s


def oph_exportarrow(cube: Cube, path: str, shards: int = 8) -> list[str]:
    """Cube -> Arrow IPC (Feather v2) shard files, written EXECUTOR-side:
    rows are hash-assigned to `shards` streams and each applyInPandas task
    serializes its shard with pyarrow (list columns preserve the packed
    implicit-dim layout). The driver only collects the manifest — the same
    sharded-sink shape as exportnc2/exportzarr, so export parallelism =
    shard count at any cube size. Arrow IPC is the zero-copy interchange
    format of the Python/ML data ecosystem (a training pipeline's handoff
    to loaders), extending the reference's export surface
    (oph_json_objkeys.h:116-117) the same way ORC/Parquet do."""
    import pandas as pd

    os.makedirs(path, exist_ok=True)
    shard = F.pmod(F.hash(*[F.col(c) for c in cube.explicit_dims]), F.lit(shards))

    def write_shard(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import pyarrow as pa
        import pyarrow.feather as feather

        sid = int(pdf["__shard"].iloc[0])
        out = os.path.join(path, f"part-{sid:05d}.arrow")
        feather.write_feather(
            pa.Table.from_pandas(pdf.drop(columns="__shard"), preserve_index=False),
            out,
        )
        return pd.DataFrame({"file": [out], "rows": [len(pdf)]})

    manifest = (
        cube.df.withColumn("__shard", shard)
        .groupBy("__shard")
        .applyInPandas(write_shard, "file string, rows long")
    )
    return sorted(r["file"] for r in manifest.collect())


def oph_importarrow(
    spark: SparkSession, path: str, explicit_dims: list[str], implicit_dim: str,
    value: str, measure: str | None = None,
) -> Cube:
    """Arrow IPC (Feather) -> cube: one task PER SHARD FILE — the driver
    reads only the schema of the first file (zero data rows), ships the
    file list, and each mapInPandas task deserializes its own file with
    pyarrow. Re-opens packed stores written by oph_exportarrow without
    re-gridding; scales with the shard count like the Zarr/NetCDF import
    paths."""
    import glob as _glob

    import pyarrow.feather as feather
    import pyarrow.ipc as ipc

    files = sorted(
        _glob.glob(os.path.join(path, "*.arrow"))
        if os.path.isdir(path) else _glob.glob(path)
    )
    if not files:
        raise FileNotFoundError(f"no .arrow files under {path}")
    with open(files[0], "rb") as fh:
        schema = ipc.open_file(fh).schema
    ddl = ", ".join(
        f"`{f.name}` {_arrow_spark_type(f.type)}" for f in schema
    )

    def read_files(batches):
        for pdf in batches:
            for fname in pdf["file"]:
                yield feather.read_table(fname).to_pandas()

    listing = spark.createDataFrame([(f,) for f in files], "file string").repartition(
        len(files)
    )
    df = listing.mapInPandas(read_files, ddl)
    return _wrap_or_build(df, explicit_dims, implicit_dim, value, measure)


def _try_import_xarray():
    try:  # pragma: no cover - library not present in this container
        import xarray  # noqa: F401

        return xarray
    except Exception:
        return None


def _hyperslab_mask(coord, spec: str, how: str):
    """Per-dimension selection mask for import-time hyperslab subsetting.

    how='index': 1-based start:stride:end triplets (subset.parse_subset,
    mirroring oph_subset_library.c:64-190). how='coord': value / lo:hi clauses
    over the coordinate values (oph_importnc subset_type=coord)."""
    import numpy as np

    n = len(coord)
    mask = np.zeros(n, dtype=bool)
    if how == "index":
        from ophidia_server_spark.subset import parse_subset

        idx = np.arange(1, n + 1)
        for cl in parse_subset(spec):
            cl = cl.resolved(n)
            mask |= (idx >= cl.start) & (idx <= cl.end) & ((idx - cl.start) % cl.stride == 0)
        return mask
    for part in str(spec).split(","):
        bits = [b.strip() for b in part.split(":")]
        if len(bits) == 1:
            mask |= coord == float(bits[0])
        elif len(bits) == 2:
            mask |= (coord >= float(bits[0])) & (coord <= float(bits[1]))
        else:
            raise ValueError(f"coord subset clause {part!r}: use value or lo:hi")
    return mask


def _nc_long_frame(
    path: str, measure: str, subset: dict | None = None, subset_type: str = "coord"
):
    """Decode one NetCDF file into the long form (one row per grid cell):
    coordinate columns (from same-named coordinate variables, else 0..n-1
    index) + the measure column, all float64. Classic/64-bit-offset files go
    through the pure-Python codec (sources/netcdf3.py); anything else (HDF5-
    backed netCDF-4) falls back to xarray when present.

    `subset` maps dim name -> subset string and is applied as numpy slicing
    BEFORE the long form materializes (the reference's import-time hyperslab,
    oph_importnc subset_dims/subset_filter) — at scale only the requested
    slab is ever expanded to rows."""
    import numpy as np
    import pandas as pd

    from ophidia_server_spark.sources import netcdf3

    with open(path, "rb") as _fh:
        is_h5 = _fh.read(4) == b"\x89HDF"
    codec_sliced = bool(is_h5 and subset)
    try:
        # decode only the requested measure (+ coordinate scales): on
        # netCDF-4 this skips every other variable's chunk decompression,
        # and the hyperslab prunes whole chunks inside the codec (classic
        # files slice below instead — their decode is zero-copy views)
        ds = netcdf3.read(
            path, variables={measure},
            subset=subset if codec_sliced else None,
            subset_type=subset_type,
            mask_fn=_hyperslab_mask if codec_sliced else None,
        )
    except ValueError:
        xr = _try_import_xarray()
        if xr is None:
            raise
        if subset:  # pragma: no cover - xarray absent in this container
            raise NotImplementedError(
                "hyperslab subsetting is implemented for classic NetCDF3 "
                "only; the xarray fallback would silently ignore it"
            )
        xds = xr.open_dataset(path)  # pragma: no cover
        return xds[measure].to_dataframe().reset_index()  # pragma: no cover
    v = ds.variables[measure]
    coords = []
    keep = []
    for i, d in enumerate(v.dimensions):
        cv = ds.variables.get(d)
        if cv is not None and cv.dimensions == (d,):
            c = np.asarray(cv.data, dtype="float64")
        else:
            c = np.arange(v.data.shape[i], dtype="float64")
        if subset and d in subset and not codec_sliced:
            m = _hyperslab_mask(c, subset[d], subset_type)
            keep.append(np.flatnonzero(m))
            c = c[m]
        else:
            keep.append(np.arange(len(c)))
        coords.append(c)
    data = np.asarray(v.data, dtype="float64")
    if subset and not codec_sliced:
        data = data[np.ix_(*keep)]
    grids = np.meshgrid(*coords, indexing="ij") if coords else []
    out = {d: g.ravel() for d, g in zip(v.dimensions, grids)}
    out[measure] = data.ravel()
    return pd.DataFrame(out)


def oph_importnc(
    spark: SparkSession, paths: list[str], measure: str,
    explicit_dims: list[str], implicit_dim: str,
    subset: dict | None = None, subset_type: str = "coord",
) -> Cube:
    """NetCDF -> cube (oph_importnc/importncs, oph_json_objkeys.h:114).

    Distributed shape: parallelize the file list (one task per file — the
    reference fragments an import the same way, per-file x hyperslab), decode
    each file inside mapInPandas (Arrow-batched) with the pure-Python
    NetCDF3 codec, then build_cube. No driver-side decode at any file count.

    subset/subset_type apply the reference's import-time hyperslab
    (subset_dims/subset_filter/subset_type args of oph_importnc): dims are
    sliced in numpy inside each decode task before any row materializes.
    """
    if not paths:
        raise ValueError("oph_importnc: no input files (empty path list)")
    files = spark.createDataFrame([(p,) for p in paths], "path string").repartition(
        min(len(paths), 64)
    )
    dims = explicit_dims + [implicit_dim]

    def decode(batches: Iterator["object"]) -> Iterator["object"]:
        for pdf in batches:
            for p in pdf["path"]:
                frame = _nc_long_frame(p, measure, subset, subset_type)
                yield frame[dims + [measure]]

    schema = ", ".join([f"{d} double" for d in dims] + [f"{measure} double"])
    long_df = files.mapInPandas(decode, schema)
    return build_cube(long_df, explicit_dims, implicit_dim, F.col(measure), measure=measure)


def oph_importzarr(
    spark: SparkSession, store: str, measure: str,
    explicit_dims: list[str], implicit_dim: str,
    subset: dict | None = None, subset_type: str = "coord",
) -> Cube:
    """Zarr v2 store -> cube (modern CMIP6 cloud archives publish Zarr; the
    chunk-per-object layout IS the reference's fragment model,
    oph_ophidiadb_query.h:48 hostxdatacube x fragmentxdb).

    Distributed shape: the driver touches ONLY the JSON metadata and the 1-D
    coordinate arrays (KBs); the measure chunks — the actual data — fan out
    one task per chunk key via mapInPandas, each task decompressing exactly
    its own chunk file. Import parallelism therefore equals the store's
    chunk count regardless of array size, with zero driver-side data.

    `subset`/`subset_type` apply the import-time hyperslab (the oph_importnc
    subset_dims/subset_filter semantics) with CHUNK-LEVEL PRUNING: the
    per-dim keep mask is computed driver-side on the (tiny) coordinates, any
    chunk whose index range contains no kept index is dropped from the task
    list before a single task launches, and surviving chunks slice in numpy
    before rows materialize — the object-store analogue of parquet partition
    pruning, so a time-range query over a 100 TB store reads only the
    chunks the range touches."""
    import itertools

    from ophidia_server_spark.sources import zarr as zr

    meta_path = os.path.join(store, measure, ".zarray")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = _json.load(fh)
    else:  # Zarr v3 array node: one zarr.json carries metadata + attributes
        with open(os.path.join(store, measure, "zarr.json")) as fh:
            meta = _json.load(fh)
    za = zr._load_zarray(meta)
    za_attrs = {}
    if za.version == 3:
        za_attrs = dict(meta.get("attributes") or {})
        if meta.get("dimension_names"):
            za_attrs.setdefault("_ARRAY_DIMENSIONS", list(meta["dimension_names"]))
    else:
        attrs_path = os.path.join(store, measure, ".zattrs")
        if os.path.exists(attrs_path):
            with open(attrs_path) as fh:
                za_attrs = _json.load(fh)
    dims = list(za_attrs.get("_ARRAY_DIMENSIONS", [f"dim_{i}" for i in range(len(za.shape))]))
    want = explicit_dims + [implicit_dim]
    if sorted(want) != sorted(dims):
        raise ValueError(f"zarr array {measure!r} has dims {dims}, requested {want}")

    coords = {}
    for i, d in enumerate(dims):
        if os.path.exists(os.path.join(store, d, ".zarray")) or os.path.exists(
            os.path.join(store, d, "zarr.json")
        ):
            arr, _ = zr.read_array(store, d)
            coords[d] = np.asarray(arr, dtype="float64")
        else:
            coords[d] = np.arange(za.shape[i], dtype="float64")

    # per-dim keep masks (hyperslab), then chunk-level pruning: a chunk
    # survives only if every dim's index range intersects its keep mask
    keep = {}
    for i, d in enumerate(dims):
        if subset and d in subset:
            keep[i] = np.flatnonzero(
                _hyperslab_mask(coords[d], subset[d], subset_type)
            )
        else:
            keep[i] = None  # all kept

    def chunk_survives(idx: tuple[int, ...]) -> bool:
        for i, (ci, c) in enumerate(zip(idx, za.chunks)):
            k = keep[i]
            if k is not None:
                lo, hi = ci * c, min((ci + 1) * c, za.shape[i])
                if not ((k >= lo) & (k < hi)).any():
                    return False
        return True

    grid = [range((s + c - 1) // c) for s, c in zip(za.shape, za.chunks)] or [range(1)]
    keys = [
        (zr._chunk_relpath(za, idx if za.shape else ()), ",".join(map(str, idx)))
        for idx in itertools.product(*grid)
        if chunk_survives(idx)
    ]
    if not keys:
        empty = spark.createDataFrame(
            [], ", ".join([f"{d} double" for d in explicit_dims + [implicit_dim]] + [f"{measure} double"])
        )
        return build_cube(empty, explicit_dims, implicit_dim, F.col(measure), measure=measure)
    files = spark.createDataFrame(keys, "key string, idx string").repartition(
        min(len(keys), 64)
    )
    shape, chunks = za.shape, za.chunks
    adir = os.path.join(store, measure)

    def decode(batches: Iterator["object"]) -> Iterator["object"]:
        import pandas as pd

        from ophidia_server_spark.sources import zarr as _zr

        za_l = _zr._load_zarray(meta)  # rebuilt from the (JSON) metadata dict
        for pdf in batches:
            for key, idx_s in zip(pdf["key"], pdf["idx"]):
                cpath = os.path.join(adir, key)
                if not os.path.exists(cpath):
                    continue  # missing chunk = fill-only; emits no rows
                idx = tuple(int(x) for x in idx_s.split(",")) if idx_s else ()
                with open(cpath, "rb") as fh:
                    raw = fh.read()
                if za_l.version == 3:
                    chunk = _zr._decode_v3_chunk(raw, za_l)
                else:
                    chunk = np.frombuffer(
                        _zr._decompress(raw, za_l.compressor), za_l.dtype
                    ).reshape(chunks)
                sel = [
                    slice(i * c, min((i + 1) * c, s))
                    for i, c, s in zip(idx, chunks, shape)
                ]
                chunk = chunk[
                    tuple(slice(0, sl.stop - sl.start) for sl in sel)
                ].astype("float64")
                cslices = []
                for axis, (d, sl) in enumerate(zip(dims, sel)):
                    k = keep[axis]
                    if k is None:
                        idxs = np.arange(sl.start, sl.stop)
                    else:  # hyperslab: keep only selected indices in-range
                        idxs = k[(k >= sl.start) & (k < sl.stop)]
                    chunk = np.take(chunk, idxs - sl.start, axis=axis)
                    cslices.append(coords[d][idxs])
                grids = np.meshgrid(*cslices, indexing="ij")
                out = {d: g.ravel() for d, g in zip(dims, grids)}
                out[measure] = chunk.ravel()
                yield pd.DataFrame(out)[want + [measure]]

    schema = ", ".join([f"{d} double" for d in want] + [f"{measure} double"])
    long_df = files.mapInPandas(decode, schema)
    return build_cube(long_df, explicit_dims, implicit_dim, F.col(measure), measure=measure)


def oph_exportzarr(
    cube: Cube, store: str, compress: int | str | None = 4,
    per_dim_chunks: bool = False, zarr_format: int = 2,
    shard_inner: dict | None = None,
) -> str:
    """Cube -> Zarr v2 store with consolidated metadata.

    per_dim_chunks=False grids the (already-reduced) cube driver-side and
    writes one store — the small-result path, mirroring oph_exportnc.
    per_dim_chunks=True writes one chunk per first-explicit-dim value from
    inside applyInPandas: the driver writes only JSON metadata; every data
    byte is encoded and written executor-side, so export parallelism equals
    the dim cardinality (the exportnc2 sharding model on Zarr layout)."""
    from ophidia_server_spark.sources import netcdf3, zarr as zr

    dims = list(cube.explicit_dims) + list(cube.implicit_dims)
    measure = cube.measure
    long_df = cube.long()
    if not per_dim_chunks:
        pdf = long_df.toPandas()
        ds = netcdf3.Dataset()
        _fill_grid_dataset(ds, pdf, dims, measure)
        zr.write(store, ds, compress=compress, zarr_format=zarr_format,
                 shard_inner=shard_inner)
        return store

    if zarr_format != 2:
        raise zr.ZarrError("per_dim_chunks export writes Zarr v2 only")
    split_dim = dims[0]
    rest = dims[1:]
    # the export needs two passes (coordinate sets, then the chunk write);
    # persist the long form so the upstream cube plan executes once, spill-
    # tolerant at scale, released before returning
    long_df = long_df.persist()
    # one pass for every dim's coordinate set (bounded: grid cardinalities,
    # not data size) instead of one distinct-job per dim — at scale each of
    # those jobs would re-run the whole upstream plan
    coord_row = long_df.agg(
        *[F.collect_set(d).alias(d) for d in dims]
    ).collect()[0]
    vals = sorted(coord_row[split_dim])
    pos = {v: i for i, v in enumerate(vals)}
    rest_coords = {
        d: np.sort(np.asarray(coord_row[d], "float64")) for d in rest
    }
    cshape = [1] + [len(rest_coords[d]) for d in rest]
    os.makedirs(os.path.join(store, measure), exist_ok=True)

    def write_chunk(pdf):
        import pandas as pd

        from ophidia_server_spark.sources.zarr import _compress

        key_val = pdf[split_dim].iloc[0]
        idx = [len(rest_coords[d]) for d in rest]  # full span in rest dims
        arr = np.full([1] + idx, np.nan)
        locs = [np.searchsorted(rest_coords[d], pdf[d].to_numpy("float64")) for d in rest]
        arr[tuple([np.zeros(len(pdf), dtype=int)] + locs)] = pdf[measure].to_numpy(
            "float64"
        )
        raw, _ = _compress(arr.tobytes(), compress, 8)
        key = ".".join([str(pos[key_val])] + ["0"] * len(rest))
        with open(os.path.join(store, measure, key), "wb") as fh:
            fh.write(raw)
        return pd.DataFrame({"chunk": [key], "rows": [len(pdf)]})

    manifest = (
        long_df.repartition(split_dim)
        .groupBy(split_dim)
        .applyInPandas(write_chunk, "chunk string, rows long")
    )
    n = manifest.count()  # materialize the executor-side writes

    # driver writes metadata only
    ds = netcdf3.Dataset()
    ds.dimensions = {split_dim: len(vals), **{d: len(rest_coords[d]) for d in rest}}
    for d, c in [(split_dim, np.asarray(vals, "float64"))] + [
        (d, rest_coords[d]) for d in rest
    ]:
        ds.variables[d] = netcdf3.Variable(d, (d,), {}, c)
    zr.write(store, ds, compress=compress)  # writes coords + group metadata
    zmeta = {
        "zarr_format": 2,
        "shape": [len(vals)] + [len(rest_coords[d]) for d in rest],
        "chunks": cshape,
        "dtype": "<f8",
        "compressor": _zr_compressor_meta(compress),
        "fill_value": "NaN",
        "order": "C",
        "filters": None,
    }
    attrs = {"_ARRAY_DIMENSIONS": dims}
    with open(os.path.join(store, measure, ".zarray"), "w") as fh:
        _json.dump(zmeta, fh)
    with open(os.path.join(store, measure, ".zattrs"), "w") as fh:
        _json.dump(attrs, fh)
    zpath = os.path.join(store, ".zmetadata")
    with open(zpath) as fh:
        consolidated = _json.load(fh)
    consolidated["metadata"][f"{measure}/.zarray"] = zmeta
    consolidated["metadata"][f"{measure}/.zattrs"] = attrs
    with open(zpath, "w") as fh:
        _json.dump(consolidated, fh)
    long_df.unpersist()
    if n != len(vals):
        raise RuntimeError(f"zarr export wrote {n} chunks, expected {len(vals)}")
    return store


def _zr_compressor_meta(compress) -> dict | None:
    """.zarray compressor dict: delegated to sources/zarr.compressor_meta —
    the one source of truth the chunk writer itself uses (the export path
    writes float64 chunks, itemsize 8)."""
    from ophidia_server_spark.sources import zarr as zr

    return zr.compressor_meta(compress, itemsize=8)


def _fill_grid_dataset(ds, pdf, dims: list[str], measure: str) -> None:
    """Shared dense-gridding for the driver-side export paths: fills `ds`
    with one float64 coordinate variable per dim + the NaN-holed measure."""
    from ophidia_server_spark.sources import netcdf3

    idx = []
    for d in dims:
        c = np.sort(np.unique(pdf[d].astype("float64").to_numpy()))
        idx.append(np.searchsorted(c, pdf[d].astype("float64").to_numpy()))
        ds.dimensions[d] = len(c)
        ds.variables[d] = netcdf3.Variable(d, (d,), {}, c)
    shape = tuple(ds.dimensions[d] for d in dims)
    arr = np.full(shape, np.nan)
    arr[tuple(idx)] = pdf[measure].astype("float64").to_numpy()
    ds.variables[measure] = netcdf3.Variable(measure, tuple(dims), {}, arr)


def oph_concat(a: Cube, new_data: DataFrame, implicit_dim_col: str, value_col) -> Cube:
    """oph_concatnc (oph_json_objkeys.h:134): append new data along the
    implicit dimension. The new slice is cubed with the same dims and the
    arrays are merged coordinate-sorted (reference appends NetCDF time steps
    onto an existing cube)."""
    b = build_cube(
        new_data, list(a.explicit_dims), implicit_dim_col, value_col, measure=a.measure
    )
    dims = [*map(quote_ident, a.explicit_dims)]
    bt = b.df.selectExpr(*dims, f"{DIM_COL} AS __dim_b", f"{MEASURE_COL} AS __m_b")
    j = a.df.join(bt, on=list(a.explicit_dims), how="full")
    # full join: either side may be absent
    coords = f"concat(coalesce({DIM_COL}, array()), coalesce(__dim_b, array()))"
    values = "concat(" + ", ".join(f"transform(coalesce({c}, array()), x -> CAST(x AS DOUBLE))"
                                   for c in (MEASURE_COL, "__m_b")) + ")"
    # the (coordinate, value) pairs sort by coordinate first, in the order
    # sort_array gives the coordinates alone (nulls first), so the two align
    out = j.selectExpr(
        *dims,
        f"sort_array({coords}) AS {DIM_COL}",
        f"transform(array_sort(zip_with({coords}, {values}, "
        f"(d, v) -> named_struct('d', d, 'v', v))), p -> p.v) AS {MEASURE_COL}",
    )
    return Cube(
        df=out, explicit_dims=a.explicit_dims, implicit_dims=a.implicit_dims,
        measure=a.measure, level=a.level + 1,
    )


def oph_merge(cube: Cube, nmerge: int) -> Cube:
    """oph_merge (oph_json_objkeys.h:109): coarsen fragmentation — merge every
    `nmerge` fragments into one. Physical-layout operator: in Spark this is
    partition coalescing (no shuffle), the row/array content is unchanged."""
    n = max(1, cube.df.rdd.getNumPartitions() // nmerge)
    return cube.with_df(cube.df.coalesce(n))


def oph_split(cube: Cube, nsplit: int) -> Cube:
    """oph_split (oph_json_objkeys.h:108): increase fragmentation. Spark:
    repartition by the explicit dims so co-location is preserved."""
    cols = [F.col(d) for d in cube.explicit_dims] or [F.spark_partition_id()]
    return cube.with_df(cube.df.repartition(nsplit, *cols))


def oph_publish(cube: Cube, publish_dir: str, name: str, limit: int = 1000) -> str:
    """oph_publish (oph_json_objkeys.h:121): render the cube's long form to a
    served directory (HTML table + parquet payload)."""
    os.makedirs(publish_dir, exist_ok=True)
    out = os.path.join(publish_dir, name)
    cube.df.write.mode("overwrite").parquet(out + ".parquet")
    rows = cube.long().limit(limit).collect()
    cols = cube.long().columns
    html = ["<table><tr>" + "".join(f"<th>{c}</th>" for c in cols) + "</tr>"]
    for r in rows:
        html.append("<tr>" + "".join(f"<td>{r[c]}</td>" for c in cols) + "</tr>")
    html.append("</table>")
    with open(out + ".html", "w") as f:
        f.write("\n".join(html))
    return out


def oph_unpublish(publish_dir: str, name: str) -> None:
    """oph_unpublish (oph_json_objkeys.h:106)."""
    import shutil

    for suffix in (".html", ".parquet"):
        p = os.path.join(publish_dir, name + suffix)
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)


def oph_fs(path: str, file_filter: str | None = None, recursive: bool = False) -> list[dict]:
    """oph_fs ls (oph_massive_operations.c:35): list a data directory with an
    optional file filter — feeds file-massive expansion (src_path=[...]).

    Filter syntax: patterns that look like globs — contain `*`/`?` but no
    regex-only construct (backslash, anchors, classes, groups, braces,
    alternation, `+`) — match with fnmatch semantics, like the reference's
    `file=*1*` cases (oph_server_test.c:2814-2839); everything else is a
    regex search. A pattern like `data*` is therefore a glob (prefix match),
    not the regex "dat" + "a"*."""
    match = None
    if file_filter:
        import fnmatch as _fn

        globish = any(c in file_filter for c in "*?") and not any(
            c in file_filter for c in "\\^$()[]{}|+"
        )
        if globish:
            match = lambda fn: _fn.fnmatch(fn, file_filter)  # noqa: E731
        else:
            try:
                rxc = re.compile(file_filter)
                match = rxc.search
            except re.error:
                match = lambda fn: _fn.fnmatch(fn, file_filter)  # noqa: E731
    out = []
    if recursive:
        walker = ((dp, fn) for dp, _, fs in os.walk(path) for fn in fs)
    else:
        walker = ((path, fn) for fn in os.listdir(path) if os.path.isfile(os.path.join(path, fn)))
    for dp, fn in walker:
        if match and not match(fn):
            continue
        full = os.path.join(dp, fn)
        out.append({"type": "f", "name": fn, "path": full, "size": os.path.getsize(full)})
    return sorted(out, key=lambda d: d["path"])


def expand_file_glob(pattern: str) -> list[str]:
    """oph_importncs-style in-place input expansion
    (oph_workflow_engine.c:963-1000): glob -> '|'-separated list semantics."""
    return sorted(_glob.glob(pattern))


def _grid_to_nc(
    pdf, dims: list[str], measure: str, out_path: str, nc_format: str = "classic",
    compress: int | None = None, unlimited_dim: str | None = None,
    index: str | None = None, b2_node_size: int = 2048,
) -> None:
    """Dense-grid a long-form pandas frame (dim cols + measure) and write one
    NetCDF file: one coordinate variable per dim, NaN where the grid has
    holes. nc_format='classic' uses the NetCDF3 codec; 'netcdf4' writes an
    HDF5 container (sources/hdf5.py), optionally deflate-compressed."""
    import numpy as np

    from ophidia_server_spark.sources import netcdf3

    ds = netcdf3.Dataset()
    idx = []
    sizes: dict[str, int] = {}
    for d in dims:
        vals = pdf[d]
        try:
            num = vals.astype("float64").to_numpy()
            c = np.sort(np.unique(num))
            idx.append(np.searchsorted(c, num))
            coord, attrs = c, {}
        except (TypeError, ValueError):
            # non-numeric dim: coordinate variable is the 0..n-1 index, the
            # labels ride along as an attribute (classic format has no
            # string-array type)
            s = vals.astype(str).to_numpy()
            c = np.sort(np.unique(s))
            idx.append(np.searchsorted(c, s))
            coord, attrs = np.arange(len(c), dtype="float64"), {"labels": ",".join(c)}
        ds.dimensions[d] = None if d == unlimited_dim else len(c)
        ds.variables[d] = netcdf3.Variable(d, (d,), attrs, coord)
        sizes[d] = len(c)
    shape = tuple(sizes[d] for d in dims)
    arr = np.full(shape, np.nan)
    arr[tuple(idx)] = pdf[measure].astype("float64").to_numpy()
    ds.variables[measure] = netcdf3.Variable(measure, tuple(dims), {}, arr)
    if nc_format == "netcdf4":
        from ophidia_server_spark.sources import hdf5

        # appended-record shape: the unlimited dim forces chunked layout;
        # index='earray'/'btree2' selects the libver-latest chunk index
        hdf5.write(out_path, ds, compress=compress,
                   chunk_rows=8 if unlimited_dim else None, index=index,
                   b2_node_size=b2_node_size)
    else:
        # nc_format 'classic' auto-selects CDF-1/2; 'cdf5' forces the
        # 64-bit-data layout (wide headers + int64/unsigned payloads)
        netcdf3.write(out_path, ds, version="cdf5" if nc_format == "cdf5" else "auto")


def oph_exportnc(
    cube: Cube, path: str, per_dim_files: bool = False,
    nc_format: str = "classic", compress: int | str | None = None,
    unlimited_dim: str | None = None, index: str | None = None,
    b2_node_size: int = 2048,
) -> list[str]:
    """Cube -> NetCDF file(s) (oph_exportnc/oph_exportnc2,
    oph_json_objkeys.h:116-117), written with the pure-Python NetCDF3 codec
    (nc_format='classic') or as netCDF-4/HDF5 (nc_format='netcdf4', optional
    deflate via an int `compress` level or shuffle+zstd via compress='zstd').

    per_dim_files=True writes one file per value of the first explicit dim
    from inside applyInPandas — each executor task grids and encodes its own
    slice, so export parallelism = cardinality of that dim and the driver
    never sees the data (the reference's exportnc2 shards output the same
    way). per_dim_files=False collects the (already-reduced) cube grid to the
    driver and writes a single file — the small-result path.
    """
    os.makedirs(path, exist_ok=True)
    dims = list(cube.explicit_dims) + list(cube.implicit_dims)
    measure = cube.measure
    long_df = cube.long()
    if not per_dim_files:
        out = os.path.join(path, f"{measure}.nc")
        _grid_to_nc(long_df.toPandas(), dims, measure, out, nc_format, compress,
                    unlimited_dim=unlimited_dim, index=index,
                    b2_node_size=b2_node_size)
        return [out]

    split_dim = dims[0]
    rest = dims[1:]

    def write_slice(pdf):
        import re

        import pandas as pd

        # sanitize the split-dim value: a '/', whitespace, or other unsafe
        # character in a string key would escape the export directory or
        # break the executor-side open()
        key = re.sub(r"[^A-Za-z0-9_.-]", "_", str(pdf[split_dim].iloc[0]))
        out = os.path.join(path, f"{measure}_{split_dim}_{key}.nc")
        _grid_to_nc(pdf, rest, measure, out, nc_format, compress)
        return pd.DataFrame({"file": [out], "rows": [len(pdf)]})

    manifest = (
        long_df.repartition(split_dim)
        .groupBy(split_dim)
        .applyInPandas(write_slice, "file string, rows long")
    )
    return sorted(r["file"] for r in manifest.collect())


def oph_explorenc(spark: SparkSession, path: str, measure: str | None = None) -> dict:
    """Inspect a NetCDF file (oph_explorenc, oph_json_objkeys.h:85-91): dims,
    variables, attributes, plus summary stats of one measure (numpy over the
    single file being inspected — explorenc is a one-file peek by contract;
    the distributed stats/fit path is `explore_stats` below).
    """
    from ophidia_server_spark.sources import netcdf3

    if os.path.isdir(path) and os.path.exists(os.path.join(path, ".zgroup")):
        from ophidia_server_spark.sources import zarr as _zarr

        ds = _zarr.read(path)  # a Zarr store is a directory, not a file
    else:
        ds = netcdf3.read(path)  # classic or netCDF-4 via the magic dispatch
    info: dict = {
        "dims": dict(ds.dimensions),
        "vars": {n: list(v.dimensions) for n, v in ds.variables.items()},
        "attrs": dict(ds.attributes),
    }
    if measure and measure in ds.variables:
        a = np.asarray(ds.variables[measure].data, dtype="float64")
        a = a[~np.isnan(a)]
        info["stats"] = {
            "n": int(a.size),
            "mean": round(float(a.mean()), 6) if a.size else None,
            "std": round(float(a.std()), 6) if a.size else None,
            "min": float(a.min()) if a.size else None,
            "max": float(a.max()) if a.size else None,
        }
    return info


def explore_stats(df: DataFrame, value_col: str, order_cols: list[str] | None = None) -> DataFrame:
    """The oph_explorenc stats/fit component over any numeric column: n, mean,
    std, min, max plus a least-squares linear fit (slope/intercept) against the
    row index — all as one aggregate pass (no .summary(), which is
    driver-heavy), expressed with closed-form regression aggregates.

    order_cols fixes the row-index order deterministically (needed for
    engine-portable fit results); default follows file order.
    """
    from pyspark.sql import Window

    v = F.col(value_col).cast("double")
    order = [F.col(c) for c in order_cols] if order_cols else [F.monotonically_increasing_id()]
    w = F.row_number().over(Window.orderBy(*order)) - 1
    idx = df.withColumn("__x", w.cast("double"))
    return idx.agg(
        F.count(v).alias("n"),
        F.round(F.avg(v), 6).alias("mean"),
        F.round(F.stddev_pop(v), 6).alias("std"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
        # + 0.0 collapses IEEE -0.0 (a tiny negative slope rounded to zero)
        # to +0.0 so cross-engine value hashes agree
        (F.round(F.regr_slope(v, F.col("__x")), 6) + F.lit(0.0)).alias("fit_slope"),
        (F.round(F.regr_intercept(v, F.col("__x")), 6) + F.lit(0.0)).alias(
            "fit_intercept"
        ),
    )


def oph_exportjson(cube: Cube, path: str) -> None:
    """Cube -> JSON lines (newline-delimited; splittable, the cluster-standard
    JSON layout)."""
    cube.df.write.mode("overwrite").json(path)


def oph_importjson(
    spark: SparkSession, path: str, explicit_dims: list[str], implicit_dim: str,
    value: str, schema: str | None = None,
) -> Cube:
    """JSON lines -> cube. Explicit schema recommended at scale (schema
    inference is a full extra pass over the data)."""
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    df = reader.json(path)
    return build_cube(df, explicit_dims, implicit_dim, F.col(value), measure=value)


_CF_UNIT_SECONDS = {"seconds": 1, "minutes": 60, "hours": 3600, "days": 86400}


def cf_time_column(col, units: str):
    """Decode a CF-convention time coordinate ('<unit> since <origin>', the
    encoding of every climate-model time axis the reference ingests) into a
    TIMESTAMP column: origin parsed once driver-side, the scale/offset is a
    pure JVM expression over the numeric coordinate."""
    m = re.match(r"\s*(seconds|minutes|hours|days)\s+since\s+(.+)", units, re.I)
    if not m:
        raise ValueError(f"unsupported CF time units {units!r}")
    scale = _CF_UNIT_SECONDS[m.group(1).lower()]
    origin = m.group(2).strip()
    # parse the origin driver-side and fail fast: to_timestamp(lit) would
    # yield NULL for every row on an unparseable origin (legacy CF files use
    # spellings like '1-1-1 00:00:0.0' that SQL parsing rejects silently)
    import datetime as _dt

    normalized = re.sub(r"\.\d*$", "", origin)
    parts = re.match(
        r"(\d{1,4})-(\d{1,2})-(\d{1,2})(?:[ T](\d{1,2}):(\d{1,2}):(\d{1,2}))?$",
        normalized,
    )
    if not parts:
        raise ValueError(f"unparseable CF origin {origin!r}")
    vals = [int(x) if x else 0 for x in parts.groups()]
    epoch = (
        _dt.datetime(*vals[:3], *vals[3:], tzinfo=_dt.timezone.utc)
        - _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    ).total_seconds()
    return F.timestamp_seconds(
        (F.lit(float(epoch)) + col.cast("double") * scale).cast("long")
    )


def nc_time_units(path: str, dim: str) -> str | None:
    """Read the `units` attribute of a coordinate variable (for feeding
    cf_time_column) without decoding any data payload."""
    from ophidia_server_spark.sources import netcdf3

    ds = netcdf3.read(path)
    v = ds.variables.get(dim)
    if v is None:
        return None
    u = v.attributes.get("units")
    return u if isinstance(u, str) else None


def repack_parquet(
    df, out_path: str, target_mb: float = 256,
    bytes_per_row: float | None = None, parquet_ratio: float = 0.5,
) -> dict:
    """Size-targeted corpus repack: rewrite a DataFrame as parquet whose
    files land near `target_mb` each — the sharding pass a training
    pipeline runs before handing a corpus to loaders (too-many-tiny-files
    kills listing/scheduling at 100 TB; too-few-giant-files kills
    parallelism).

    File count = ceil(rows * bytes_per_row * parquet_ratio / target). When
    `bytes_per_row` isn't given it comes from ONE aggregate over the real
    data (string/binary columns by their serialized length, fixed widths
    for numeric types) — deterministic, no sampling variance — and
    `parquet_ratio` models the expected encode+compress shrink. One
    round-robin repartition (a single shuffle) evens the rows across
    files. Returns {'n_files', 'est_bytes', 'rows'}."""
    import math

    from pyspark.sql import types as T

    if target_mb <= 0:
        raise ValueError(f"target_mb must be positive, got {target_mb}")
    fixed = {
        T.LongType(): 8, T.DoubleType(): 8, T.IntegerType(): 4,
        T.FloatType(): 4, T.ShortType(): 2, T.ByteType(): 1,
        T.BooleanType(): 1, T.DateType(): 4, T.TimestampType(): 8,
    }
    if bytes_per_row is None:
        per_col = []
        for f in df.schema.fields:
            if isinstance(f.dataType, (T.StringType, T.BinaryType)):
                per_col.append(F.avg(F.coalesce(F.length(f.name), F.lit(0))))
            elif isinstance(f.dataType, T.ArrayType):
                elem = fixed.get(f.dataType.elementType, 8)
                per_col.append(F.avg(F.coalesce(F.size(f.name), F.lit(0))) * elem)
            else:
                per_col.append(F.lit(float(fixed.get(f.dataType, 8))))
        stats = df.agg(
            F.count("*").alias("__n"),
            sum(per_col[1:], per_col[0]).alias("__bpr"),
        ).first()
        rows, bytes_per_row = stats["__n"], float(stats["__bpr"] or 0.0)
    else:
        rows = df.count()
    est = rows * bytes_per_row * parquet_ratio
    n_files = max(1, math.ceil(est / (target_mb * 1024 * 1024)))
    df.repartition(n_files).write.mode("overwrite").parquet(out_path)
    return {"n_files": n_files, "est_bytes": int(est), "rows": rows}


# ---------------------------------------------------------------------------
# TFRecord (tf.train.Example) — the training-loader interchange format
# ---------------------------------------------------------------------------

def _tfrecord_feature_plan(schema) -> list[tuple[str, str]]:
    """(column, feature-kind) plan for a DataFrame schema. Kinds: 'bytes'
    (string/binary), 'int64' (integral / array of integral), 'float'
    (float/double / array thereof — doubles NARROW to binary32, the only
    float the format has). Unsupported types raise with the column named
    (cast timestamps/dates/decimals explicitly before export)."""
    from pyspark.sql import types as T

    plan = []
    for f in schema.fields:
        t = f.dataType
        elem = t.elementType if isinstance(t, T.ArrayType) else t
        if isinstance(elem, (T.StringType, T.BinaryType)):
            kind = "bytes"
        elif isinstance(elem, (T.ByteType, T.ShortType, T.IntegerType,
                               T.LongType, T.BooleanType)):
            kind = "int64"
        elif isinstance(elem, (T.FloatType, T.DoubleType)):
            kind = "float"
        else:
            raise ValueError(
                f"column {f.name}: {t.simpleString()} has no tf.train.Example "
                "feature kind — cast to string/int64/float first"
            )
        plan.append((f.name, kind))
    return plan


def oph_exporttfrecord(df: DataFrame, path: str, shards: int = 8) -> list[str]:
    """DataFrame -> sharded TFRecord files of tf.train.Example records,
    written EXECUTOR-side (the same applyInPandas sharded-sink shape as
    oph_exportarrow: rows hash to `shards` streams, each task frames its own
    file, the driver collects only the manifest). Scalar columns become
    single-element features, array columns multi-element; encoding is
    canonical (sorted keys, packed lists) so bytes are reproducible.

    This is the handoff from the corpus pipeline to tf.data /
    tfds-style loaders — the one export format those consume natively."""
    import pandas as pd

    from ophidia_server_spark.sources import tfrecord as tfr

    os.makedirs(path, exist_ok=True)
    plan = _tfrecord_feature_plan(df.schema)
    cols = [c for c, _ in plan]
    shard = F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(shards))

    def write_shard(pdf: "pd.DataFrame") -> "pd.DataFrame":
        sid = int(pdf["__shard"].iloc[0])
        out = os.path.join(path, f"part-{sid:05d}.tfrecord")

        def payloads():
            for row in pdf[cols].itertuples(index=False):
                feats = {}
                for (name, kind), val in zip(plan, row):
                    if val is None:
                        feats[name] = None
                    elif kind == "int64":
                        feats[name] = (
                            [int(v) for v in val]
                            if isinstance(val, (list, tuple, np.ndarray)) else int(val)
                        )
                    elif kind == "float":
                        feats[name] = (
                            [float(v) for v in val]
                            if isinstance(val, (list, tuple, np.ndarray))
                            else float(val)
                        )
                    else:
                        feats[name] = (
                            list(val)
                            if isinstance(val, (list, tuple, np.ndarray)) else val
                        )
                yield tfr.encode_example(feats)

        n = tfr.write_records(out, payloads())
        return pd.DataFrame({"file": [out], "rows": [n]})

    manifest = (
        df.withColumn("__shard", shard)
        .groupBy("__shard")
        .applyInPandas(write_shard, "file string, rows long")
    )
    return sorted(r["file"] for r in manifest.collect())


def oph_importtfrecord(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Sharded TFRecord -> DataFrame: one task PER SHARD FILE (the driver
    ships only the file list; every record is CRC-verified on read). The
    declared DDL schema maps features back to columns: string/binary from
    bytes features, bigint from int64, float/double from float (float is
    the lossless readback — the wire type IS binary32), array<...> keeps
    the whole list, scalars take element 0."""
    import pandas as pd

    from pyspark.sql import types as T

    from ophidia_server_spark.sources import tfrecord as tfr

    files = sorted(
        _glob.glob(os.path.join(path, "*.tfrecord"))
        if os.path.isdir(path) else _glob.glob(path)
    )
    if not files:
        raise FileNotFoundError(f"no .tfrecord files under {path}")
    struct = T.StructType.fromDDL(schema)

    def read_files(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            for fname in pdf["file"]:
                rows: dict[str, list] = {f.name: [] for f in struct.fields}
                for rec in tfr.read_records(fname):
                    ex = tfr.decode_example(rec)
                    for f in struct.fields:
                        kind_vals = ex.get(f.name)
                        vals = kind_vals[1] if kind_vals else []
                        is_arr = isinstance(f.dataType, T.ArrayType)
                        elem = f.dataType.elementType if is_arr else f.dataType
                        if isinstance(elem, T.StringType):
                            vals = [v.decode("utf-8") for v in vals]
                        elif isinstance(elem, T.FloatType):
                            vals = [np.float32(v) for v in vals]
                        rows[f.name].append(
                            vals if is_arr else (vals[0] if vals else None)
                        )
                yield pd.DataFrame(rows, columns=[f.name for f in struct.fields])

    listing = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(len(files))
    return listing.mapInPandas(read_files, schema)


# ---------------------------------------------------------------------------
# WebDataset (tar shards) — the multimodal training-sample format
# ---------------------------------------------------------------------------

def oph_exportwebdataset(
    df: DataFrame, path: str, key_col: str, shards: int = 8,
) -> list[str]:
    """DataFrame -> WebDataset tar shards, written EXECUTOR-side.

    The WebDataset convention (the public webdataset format spec): a shard
    is a plain tar archive; one SAMPLE is the run of consecutive members
    sharing a basename stem, and each member `<key>.<ext>` becomes one
    field of the loader's sample dict. Here every non-key column maps to a
    member whose extension is the column name: binary columns write raw
    bytes, strings write utf-8, any other type writes its JSON encoding
    (loaders auto-decode *.json members). Streams a DataLoader can consume
    with plain sequential tar reads — the property that makes the format
    work against object storage at 100 TB.

    Same sharded-sink shape as oph_exportarrow/oph_exporttfrecord: rows hash
    on the sample key to `shards` streams, each applyInPandas task writes
    its own tar, the driver collects only the manifest. Archives are
    byte-reproducible: USTAR format, zeroed mtime/uid/gid, fixed 0o644 mode,
    samples sorted by key, members in column order."""
    import io as _io
    import tarfile

    import pandas as pd

    from pyspark.sql import types as T

    os.makedirs(path, exist_ok=True)
    if key_col not in df.columns:
        raise ValueError(f"key column {key_col} not in DataFrame")
    # WebDataset extensions are column names, which may contain dots
    # (`cap.json`); Spark's applyInPandas resolves columns by name, so the
    # grouped frame uses positional safe names and the writer maps back.
    orig = list(df.columns)
    safe = [f"__c{i}" for i in range(len(orig))]
    to_orig = dict(zip(safe, orig))
    sdf = df.toDF(*safe)
    key_safe = safe[orig.index(key_col)]
    kinds = {
        f.name: (
            "bin" if isinstance(f.dataType, T.BinaryType)
            else "txt" if isinstance(f.dataType, T.StringType) else "json"
        )
        for f in df.schema.fields if f.name != key_col
    }
    cols = [key_safe] + [s for s in safe if s != key_safe]
    shard = F.pmod(F.xxhash64(F.col(key_safe).cast("string")), F.lit(shards))

    def write_shard(pdf: "pd.DataFrame") -> "pd.DataFrame":
        sid = int(pdf["__shard"].iloc[0])
        out = os.path.join(path, f"shard-{sid:05d}.tar")
        pdf = pdf.sort_values(key_safe, kind="mergesort")
        n = 0
        with tarfile.open(out, "w", format=tarfile.USTAR_FORMAT) as tar:
            for row in pdf[cols].itertuples(index=False):
                key = str(row[0])
                for sname, val in zip(cols[1:], row[1:]):
                    name = to_orig[sname]
                    if val is None:
                        continue
                    if kinds[name] == "bin":
                        data = bytes(val)
                    elif kinds[name] == "txt":
                        data = str(val).encode("utf-8")
                    else:
                        data = _json.dumps(
                            val.tolist() if isinstance(val, np.ndarray)
                            else int(val) if isinstance(val, np.integer)
                            else float(val) if isinstance(val, np.floating)
                            else val,
                            separators=(",", ":"), sort_keys=True,
                        ).encode("utf-8")
                    info = tarfile.TarInfo(f"{key}.{name}")
                    info.size = len(data)
                    info.mtime = 0
                    info.mode = 0o644
                    info.uname = info.gname = ""
                    tar.addfile(info, _io.BytesIO(data))
                n += 1
        return pd.DataFrame({"file": [out], "rows": [n]})

    manifest = (
        sdf.withColumn("__shard", shard)
        .groupBy("__shard")
        .applyInPandas(write_shard, "file string, rows long")
    )
    return sorted(r["file"] for r in manifest.collect())


def oph_importwebdataset(
    spark: SparkSession, path: str, key_col: str, schema: str,
) -> DataFrame:
    """WebDataset tar shards -> DataFrame: one sequential-read task PER
    SHARD (the webdataset access pattern — no random seeks, so the same
    code streams from object storage). Members regroup into samples by
    stem (the name up to the FIRST dot, the format's key rule, so
    multi-dot extensions like `cap.json` survive); the declared DDL schema
    maps member extensions back to columns — binary raw, string utf-8,
    everything else parsed from its JSON encoding. The key column is
    restored from the stem (cast from string by the declared type)."""
    import tarfile

    import pandas as pd

    from pyspark.sql import types as T

    files = sorted(
        _glob.glob(os.path.join(path, "*.tar"))
        if os.path.isdir(path) else _glob.glob(path)
    )
    if not files:
        raise FileNotFoundError(f"no .tar shards under {path}")
    struct = T.StructType.fromDDL(schema)
    if key_col not in struct.names:
        raise ValueError(f"key column {key_col} missing from declared schema")

    def read_files(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            for fname in pdf["file"]:
                samples: dict[str, dict[str, bytes]] = {}
                with tarfile.open(fname, "r") as tar:
                    for member in tar:
                        if not member.isfile():
                            continue
                        stem, _, ext = member.name.partition(".")
                        data = tar.extractfile(member).read()
                        samples.setdefault(stem, {})[ext] = data
                rows: dict[str, list] = {f.name: [] for f in struct.fields}
                for stem in sorted(samples):
                    members = samples[stem]
                    for f in struct.fields:
                        if f.name == key_col:
                            rows[f.name].append(
                                stem if isinstance(f.dataType, T.StringType)
                                else int(stem)
                            )
                            continue
                        data = members.get(f.name)
                        if data is None:
                            rows[f.name].append(None)
                        elif isinstance(f.dataType, T.BinaryType):
                            rows[f.name].append(data)
                        elif isinstance(f.dataType, T.StringType):
                            rows[f.name].append(data.decode("utf-8"))
                        else:
                            rows[f.name].append(_json.loads(data))
                yield pd.DataFrame(rows, columns=struct.names)

    listing = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(len(files))
    return listing.mapInPandas(read_files, schema)


# ---------------------------------------------------------------------------
# Avro Object Container Files
# ---------------------------------------------------------------------------

_AVRO_OF_SPARK = {
    "boolean": "boolean", "int": "int", "long": "bigint", "float": "float",
    "double": "double", "bytes": "binary", "string": "string",
}
_SPARK_OF_AVRO = {v: k for k, v in _AVRO_OF_SPARK.items()}


def _avro_schema_for(df: DataFrame, name: str = "row") -> dict:
    """Record schema for a DataFrame (primitives + array<primitive>;
    nullable fields as ['null', T] unions). Unsupported types raise with
    the column named — cast timestamps/decimals before export."""
    from pyspark.sql import types as T

    def node(t, col):
        if isinstance(t, T.ArrayType):
            return {"type": "array", "items": node(t.elementType, col)}
        s = _SPARK_OF_AVRO.get(t.simpleString())
        if s is None:
            raise ValueError(
                f"column {col}: {t.simpleString()} has no Avro mapping — "
                "cast to a primitive first"
            )
        return s

    fields = []
    for f in df.schema.fields:
        t = node(f.dataType, f.name)
        fields.append(
            {"name": f.name, "type": ["null", t] if f.nullable else t}
        )
    return {"type": "record", "name": name, "fields": fields}


def _spark_ddl_of_avro(schema: dict) -> str:
    def ddl(t):
        if isinstance(t, list):  # nullable union
            inner = [s for s in t if s != "null"]
            if len(inner) != 1:
                raise ValueError(f"unsupported union {t!r}")
            return ddl(inner[0])
        if isinstance(t, dict):
            if t.get("type") == "array":
                return f"array<{ddl(t['items'])}>"
            return ddl(t["type"])
        s = _AVRO_OF_SPARK.get(t)
        if s is None:
            raise ValueError(f"unsupported Avro type {t!r}")
        return s

    return ", ".join(f"`{f['name']}` {ddl(f['type'])}" for f in schema["fields"])


def oph_exportavro(
    df: DataFrame, path: str, shards: int = 8, codec: str = "deflate",
) -> list[str]:
    """DataFrame -> sharded Avro Object Container Files, written
    EXECUTOR-side (the applyInPandas sharded-sink shape shared with the
    Arrow/TFRecord/WebDataset paths). Avro is the schema-evolving row
    format of the Kafka/ingest world; Spark only ships it as an external
    package, so the engine carries its own from-spec codec
    (sources/avro.py) like it does for NetCDF/HDF5/Zarr."""
    import math as _math

    import pandas as pd

    from ophidia_server_spark.sources import avro as av

    os.makedirs(path, exist_ok=True)
    schema = _avro_schema_for(df)
    cols = [f["name"] for f in schema["fields"]]
    shard = F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(shards))

    def clean(v):
        if v is None or isinstance(v, (str, bytes, bool)):
            return v
        if isinstance(v, (np.ndarray, list, tuple)):
            return [clean(x) for x in v]
        if isinstance(v, (np.floating, float)):
            return float(v)
        return int(v)

    def write_shard(pdf: "pd.DataFrame") -> "pd.DataFrame":
        sid = int(pdf["__shard"].iloc[0])
        out = os.path.join(path, f"part-{sid:05d}.avro")
        rows = (
            {c: clean(v) for c, v in zip(cols, row)}
            for row in pdf[cols].itertuples(index=False)
        )
        n = av.write_container(out, schema, rows, codec=codec)
        return pd.DataFrame({"file": [out], "rows": [n]})

    manifest = (
        df.withColumn("__shard", shard)
        .groupBy("__shard")
        .applyInPandas(write_shard, "file string, rows long")
    )
    return sorted(r["file"] for r in manifest.collect())


def oph_importavro(spark: SparkSession, path: str) -> DataFrame:
    """Sharded Avro containers -> DataFrame: the driver reads ONE header
    for the schema (zero data blocks), then one task per file decodes with
    per-block sync-marker verification. Schema is self-describing — no DDL
    needed, the inverse of the NetCDF/Zarr self-describing imports."""
    import pandas as pd

    from ophidia_server_spark.sources import avro as av

    files = sorted(
        _glob.glob(os.path.join(path, "*.avro"))
        if os.path.isdir(path) else _glob.glob(path)
    )
    if not files:
        raise FileNotFoundError(f"no .avro files under {path}")
    schema, _ = av.read_container(files[0])
    ddl = _spark_ddl_of_avro(schema)
    names = [f["name"] for f in schema["fields"]]

    def read_files(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            for fname in pdf["file"]:
                _, rows = av.read_container(fname)
                data = list(rows)
                yield pd.DataFrame(
                    {n: [r[n] for r in data] for n in names}, columns=names
                )

    listing = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(len(files))
    return listing.mapInPandas(read_files, ddl)


# ---------------------------------------------------------------------------
# safetensors (sharded checkpoint/embedding handoff)
# ---------------------------------------------------------------------------

_ST_DTYPES = {"F32": ("<f4", 4), "F64": ("<f8", 8), "I64": ("<i8", 8),
              "I32": ("<i4", 4)}


def oph_exportsafetensors(
    df: DataFrame, path: str,
    id_col: str = "vec_id", vec_col: str = "embedding",
    label_col: str | None = "label", shards: int = 8,
) -> list[str]:
    """Embedding table -> sharded .safetensors files, written EXECUTOR-side
    — the tensor-handoff format of the HF training ecosystem, implemented
    from the public spec (u64-LE header length, UTF-8 JSON header mapping
    tensor name -> {dtype, shape, data_offsets}, then one contiguous
    little-endian byte buffer; header whitespace-padded to 8 bytes). Each
    shard carries three tensors: `ids` I64 [n], `embeddings` F32 [n, d],
    and (when `label_col`) `labels` I32 [n], rows sorted by id for
    byte-reproducibility. Same sharded-sink shape as the Arrow/TFRecord/
    WebDataset exports: rows hash to shards, one applyInPandas task writes
    each file, the driver collects only the manifest."""
    import numpy as np
    import pandas as pd

    os.makedirs(path, exist_ok=True)
    cols = [id_col, vec_col] + ([label_col] if label_col else [])
    sdf = df.select(*cols).withColumn(
        "__shard", F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(shards))
    )

    def write_shard(pdf: "pd.DataFrame") -> "pd.DataFrame":
        sid = int(pdf["__shard"].iloc[0])
        out = os.path.join(path, f"shard-{sid:05d}.safetensors")
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy(dtype="<i8")
        vecs = np.stack(
            [np.asarray(v, dtype="<f4") for v in pdf[vec_col]]
        ) if len(pdf) else np.zeros((0, 0), dtype="<f4")
        buffers = [("ids", "I64", [len(ids)], ids.tobytes())]
        buffers.append(
            ("embeddings", "F32", list(vecs.shape), vecs.tobytes())
        )
        if label_col:
            labels = pdf[label_col].to_numpy(dtype="<i4")
            buffers.append(("labels", "I32", [len(labels)], labels.tobytes()))
        header: dict = {}
        off = 0
        for name, dt, shape, raw in buffers:
            header[name] = {"dtype": dt, "shape": shape,
                            "data_offsets": [off, off + len(raw)]}
            off += len(raw)
        header["__metadata__"] = {"shard": str(sid)}
        hj = _json.dumps(header, separators=(",", ":"), sort_keys=True).encode()
        hj += b" " * (-len(hj) % 8)  # spec allows whitespace padding
        with open(out, "wb") as fh:
            fh.write(len(hj).to_bytes(8, "little"))
            fh.write(hj)
            for _, _, _, raw in buffers:
                fh.write(raw)
        return pd.DataFrame({"file": [out], "rows": [len(pdf)]})

    manifest = sdf.groupBy("__shard").applyInPandas(
        write_shard, "file string, rows long"
    )
    return sorted(r["file"] for r in manifest.collect())


def oph_importsafetensors(
    spark: SparkSession, path: str,
    id_col: str = "vec_id", vec_col: str = "embedding",
    label_col: str | None = "label",
) -> DataFrame:
    """Sharded .safetensors -> DataFrame: one sequential-read task per
    shard. Validates the spec invariants it relies on (header length,
    known dtypes, contiguous non-overlapping offsets covering the buffer)
    and raises with the violated field named."""
    import glob as _glob

    import numpy as np
    import pandas as pd

    files = sorted(
        _glob.glob(os.path.join(path, "*.safetensors"))
        if os.path.isdir(path) else _glob.glob(path)
    )
    if not files:
        raise FileNotFoundError(f"no .safetensors shards under {path}")
    out_schema = f"{id_col} long, {vec_col} array<float>" + (
        f", {label_col} int" if label_col else ""
    )

    def read_files(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            for fname in pdf["file"]:
                with open(fname, "rb") as fh:
                    blob = fh.read()
                if len(blob) < 8:
                    raise ValueError(f"{fname}: truncated header length")
                n = int.from_bytes(blob[:8], "little")
                header = _json.loads(blob[8:8 + n])
                buf = blob[8 + n:]
                entries = [
                    (name, meta) for name, meta in header.items()
                    if name != "__metadata__"
                ]
                # validate the spec invariants BEFORE touching any bytes,
                # so a corrupt header refuses with the violated field named
                spans = []
                for name, meta in entries:
                    if meta["dtype"] not in _ST_DTYPES:
                        raise ValueError(
                            f"{fname}: unsupported dtype {meta['dtype']}"
                        )
                    spans.append(tuple(meta["data_offsets"]))
                spans.sort()
                pos = 0
                for s, e in spans:
                    if s != pos:
                        raise ValueError(f"{fname}: non-contiguous offsets")
                    pos = e
                if pos != len(buf):
                    raise ValueError(f"{fname}: offsets do not cover buffer")
                tensors = {}
                for name, meta in entries:
                    npdt, _width = _ST_DTYPES[meta["dtype"]]
                    s, e = meta["data_offsets"]
                    tensors[name] = np.frombuffer(
                        buf[s:e], dtype=npdt
                    ).reshape(meta["shape"])
                ids = tensors["ids"]
                vecs = tensors["embeddings"]
                row = {
                    id_col: ids.astype("int64"),
                    vec_col: [vecs[i].tolist() for i in range(len(ids))],
                }
                if label_col:
                    row[label_col] = tensors["labels"].astype("int32")
                yield pd.DataFrame(row)

    listing = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(len(files))
    return listing.mapInPandas(read_files, out_schema)
