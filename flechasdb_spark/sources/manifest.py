"""Index persistence: Parquet datasets + JSON manifest with load-time
validation.

The reference names every model file by its SHA-256 and verifies it on
read (its ``src/db/build/proto.rs:25-63``, ``src/io.rs:40-63`` and
``src/db/stored.rs:262-293``). Here the manifest carries the digests
instead (``format_version`` 2):

- ``centroids_sha256``: SHA-256 of the centroids' little-endian float32
  bytes in ``partition_id`` order, the values ``centroids/`` holds. A
  model whose centroids were never collected (loaded with
  ``collect_centroids=False``) is saved without it.
- ``codebooks_sha256``: the same over the codebooks in (division, code)
  order, the values ``codebooks/`` holds.
- ``index_schema``: ``StructType.json()`` of the index's columns in the
  order the Parquet reader reports them, so reading it infers nothing.

``load_index`` recomputes both digests from the rows it collects anyway
and raises ``ValueError`` naming the table on a mismatch; in the
lazy-centroid mode it checks the codebooks only. A version-1 manifest
has none of these fields: its tables are read with inferred schemas and
not verified. Layout:

    <root>/manifest.json
    <root>/index/partition_id=<p>/...parquet   (vector_id, codes, attrs)
    <root>/centroids/...parquet                (partition_id, centroid)
    <root>/codebooks/...parquet                (division, code, center)

``partitionBy("partition_id")`` gives the reference's lazy per-partition
loading for free: an nprobe query reads only the probed directories
(Parquet partition pruning == ``load_partition`` memoization,
``src/db/stored.rs:262-293``).
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from flechasdb_spark.operators.build import (
    _CENTROIDS_SCHEMA,
    _CODEBOOKS_SCHEMA,
    IndexConfig,
    IndexModel,
)

__all__ = [
    "save_index",
    "load_index",
    "validate_manifest",
    "read_manifest_json",
    "write_manifest_json",
]

MANIFEST_NAME = "manifest.json"
FORMAT_VERSION = 2


def _fs_path(spark: SparkSession, path: str):
    """(Path, FileSystem) via the Hadoop FS API, so manifest IO behaves
    identically on local, HDFS, and S3 paths — the same route the
    partition-directory maintenance already takes."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def read_manifest_json(spark: SparkSession, path: str) -> dict | None:
    """Read a JSON file through the Hadoop FS API; None if absent."""
    p, fs = _fs_path(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    return json.loads(text)


def write_manifest_json(spark: SparkSession, path: str, obj: dict) -> None:
    """Write a JSON file through the Hadoop FS API (overwrite)."""
    p, fs = _fs_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(obj, indent=2).encode("utf-8")))
    finally:
        out.close()


def _digest(values: np.ndarray) -> str:
    """SHA-256 of ``values`` as little-endian float32 bytes in C order:
    the values a small model table holds at rest."""
    return hashlib.sha256(
        np.ascontiguousarray(values, dtype="<f4").tobytes()
    ).hexdigest()


def _read_table(
    spark: SparkSession, path: str, table: str, manifest: dict | None
) -> DataFrame:
    """One of a store's tables ("index", "centroids" or "codebooks").
    A version-2 ``manifest`` fixes every schema, so opening the table
    runs no schema-inference job; else (a version-1 manifest, or None
    for a store of another family under the same ``index/`` layout)
    the schema is inferred from the Parquet footers."""
    reader = spark.read
    if manifest is not None and manifest.get("format_version", 1) >= 2:
        if table == "index":
            schema = StructType.fromJson(json.loads(manifest["index_schema"]))
        else:
            schema = {
                "centroids": _CENTROIDS_SCHEMA,
                "codebooks": _CODEBOOKS_SCHEMA,
            }[table]
        reader = reader.schema(schema)
    return reader.parquet(os.path.join(path, table))


def _verify(manifest: dict, table: str, values: np.ndarray) -> None:
    """Raise when ``values`` do not hash to the manifest's digest of
    ``table``; a manifest without that digest checks nothing."""
    want = manifest.get(f"{table}_sha256")
    if want is not None and _digest(values) != want:
        raise ValueError(
            f"{table}: the stored values do not match the manifest's "
            f"SHA-256 {want}"
        )


def save_index(model: IndexModel, path: str, pack_codes: bool = False) -> None:
    """``pack_codes`` (r10 — the PQ sibling of
    ``save_ivfsq(pack_codes=True)``): store the D PQ codes as one
    ``binary`` column — 2 codes/byte when num_codes <= 16 (the
    reference's own C=16 shape), else 1 byte/code — with a lazy
    hex-slice unpack composed into the load projection, so every
    serving path and the partition pruning are unchanged and the
    roundtrip is exact (pytest-gated). Only the at-rest bytes change;
    see SCALING.md §r10 for when that actually wins vs Parquet's own
    encodings."""
    from flechasdb_spark.operators.sq import (
        pack_codes_expr,
        pack_mode_for_levels,
    )

    spark = model.encoded.sparkSession
    enc = model.encoded
    packed_mode = None
    if pack_codes:
        packed_mode = pack_mode_for_levels(model.config.num_codes - 1)
        others = [c for c in enc.columns if c != "codes"]
        enc = enc.select(
            *others, pack_codes_expr("codes", packed_mode).alias("codes_bin")
        )
    (
        enc.repartition("partition_id")
        .write.mode("overwrite")
        .partitionBy("partition_id")
        .parquet(os.path.join(path, "index"))
    )
    model.centroids_df(spark).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "centroids")
    )
    model.codebooks_df(spark).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "codebooks")
    )
    # the index as the reader orders it: data columns, then the
    # partition column, which it types int from the directory names
    # (and it makes every field nullable, given a schema or not)
    index_schema = StructType(
        [f for f in enc.schema.fields if f.name != "partition_id"]
        + [StructField("partition_id", IntegerType())]
    )
    manifest = {
        "packed": packed_mode,
        "format_version": FORMAT_VERSION,
        "index_schema": index_schema.json(),
        "codebooks_sha256": _digest(model.codebooks),
        "vector_size": model.vector_size,
        "num_vectors": model.num_vectors,
        "num_partitions": model.config.num_partitions,
        "num_divisions": model.config.num_divisions,
        "num_codes": model.config.num_codes,
        "seed": model.config.seed,
        "id_col": model.config.id_col,
        "vec_col": model.config.vec_col,
        "attr_cols": model.attr_cols,
        "dim_perm": None
        if model.dim_perm is None
        else [int(x) for x in model.dim_perm],
    }
    if model.centroids is not None:
        manifest["centroids_sha256"] = _digest(model.centroids)
    write_manifest_json(spark, os.path.join(path, MANIFEST_NAME), manifest)


def validate_manifest(m: dict) -> None:
    """Invariant checks mirroring the reference's load-time validation
    (/root/reference/src/db/stored.rs:670-702)."""
    required = [
        "vector_size",
        "num_vectors",
        "num_partitions",
        "num_divisions",
        "num_codes",
    ]
    for k in required:
        if k not in m:
            raise ValueError(f"manifest missing field: {k}")
        if not isinstance(m[k], int) or m[k] < 0:
            raise ValueError(f"manifest field {k} must be a non-negative int")
    if m["num_divisions"] == 0 or m["vector_size"] % m["num_divisions"] != 0:
        raise ValueError(
            f"vector_size {m['vector_size']} not divisible by "
            f"num_divisions {m['num_divisions']}"
        )
    if m["num_partitions"] == 0:
        raise ValueError("num_partitions must be > 0")
    if m.get("format_version", 1) >= 2:
        for k in ("index_schema", "codebooks_sha256"):
            if not isinstance(m.get(k), str):
                raise ValueError(f"manifest missing field: {k}")


def load_index(
    spark: SparkSession, path: str, collect_centroids: bool = True
) -> IndexModel:
    """Load manifest + small models eagerly (S4), index lazily (S3).

    ``collect_centroids=False`` is the huge-P serving mode: the centroid
    table stays a DataFrame (``IndexModel.centroids_source``) and probe
    selection runs as a distributed job (``plans.ivf.select_probes_df``)
    that collects only the O(Q * nprobe) probed centroids — the driver
    never holds the (P, N) table. P ~ sqrt(M) puts that table at ~2 GB
    for M = 1e11 x 1536-dim, past the comfortable per-driver budget.
    Validation of the centroid COUNT moves to a one-row count() job;
    width validation happens naturally at query time (probed centroids
    are checked by the ADC arithmetic shapes)."""
    manifest = read_manifest_json(spark, os.path.join(path, MANIFEST_NAME))
    if manifest is None:
        raise FileNotFoundError(os.path.join(path, MANIFEST_NAME))
    validate_manifest(manifest)
    p, d, c = (
        manifest["num_partitions"],
        manifest["num_divisions"],
        manifest["num_codes"],
    )
    n = manifest["vector_size"]
    w = n // d

    cent_src = _read_table(spark, path, "centroids", manifest)
    if collect_centroids:
        # sorted on the driver: the ids are unique, and a Spark orderBy
        # before the collect costs a sampling job and a shuffle
        cent_rows = sorted(cent_src.collect(), key=lambda r: r.partition_id)
        if len(cent_rows) != p:
            raise ValueError(
                f"expected {p} centroids, found {len(cent_rows)}"
            )
        centroids = np.array(
            [r.centroid for r in cent_rows], dtype=np.float64
        )
        if centroids.shape[1] != n:
            raise ValueError(
                f"centroid width {centroids.shape[1]} != vector_size {n}"
            )
        _verify(manifest, "centroids", centroids)
    else:
        cent_count = cent_src.count()
        if cent_count != p:
            raise ValueError(f"expected {p} centroids, found {cent_count}")
        centroids = None

    cb_rows = sorted(
        _read_table(spark, path, "codebooks", manifest).collect(),
        key=lambda r: (r.division, r.code),
    )
    if len(cb_rows) != d * c:
        raise ValueError(f"expected {d * c} codebook rows, found {len(cb_rows)}")
    codebooks = np.array([r.center for r in cb_rows], dtype=np.float64).reshape(
        d, c, w
    )
    _verify(manifest, "codebooks", codebooks)

    from flechasdb_spark.plans.ivf import _df_memo

    encoded = _read_table(spark, path, "index", manifest).withColumn(
        "partition_id", F.col("partition_id").cast("int")
    )
    if manifest.get("packed"):
        from flechasdb_spark.operators.sq import unpack_codes_expr

        # D codes per vector; cast back to the build-side array<int>
        # schema so a loaded packed index is column-identical
        encoded = encoded.withColumn(
            "codes",
            unpack_codes_expr(
                "codes_bin", d, manifest["packed"]
            ).cast("array<int>"),
        ).drop("codes_bin")
    # the frame serves small unfiltered queries on the driver
    # (plans.ivf._driver_served), which must decode codes_bin the same way
    _df_memo(encoded)["packed"] = manifest.get("packed")
    cfg = IndexConfig(
        num_partitions=p,
        num_divisions=d,
        num_codes=c,
        seed=manifest.get("seed", 42),
        id_col=manifest.get("id_col", "vec_id"),
        vec_col=manifest.get("vec_col", "embedding"),
    )
    return IndexModel(
        config=cfg,
        vector_size=n,
        num_vectors=manifest["num_vectors"],
        centroids=centroids,
        codebooks=codebooks,
        encoded=encoded,
        attr_cols=manifest.get("attr_cols", []),
        centroids_source=None if collect_centroids else cent_src,
        dim_perm=None
        if manifest.get("dim_perm") is None
        else tuple(int(x) for x in manifest["dim_perm"]),
    )
