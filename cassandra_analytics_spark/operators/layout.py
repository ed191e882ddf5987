"""The on-disk format of a persisted ANN/PQ layout.

A layout at ``index_path`` is its data directory plus up to three
sidecars next to it, the way an SSTable's components sit next to its
``Data.db``:

* ``{index_path}_spec`` — one row pinning the format and the parameters
  a read or append must honor (every format);
* ``{index_path}_centroids`` — the coarse quantizer (IVF, IVF-PQ);
* ``{index_path}_codebook`` — the trained PQ codebook (flat PQ, IVF-PQ).

The four formats are the FAISS composition "coarse quantizer x code
type": sign-LSH buckets over float vectors, IVF cells over float (or
SQ8-coded) vectors, flat PQ codes, and IVF cells over PQ codes. Every
build, append, read and compaction takes its file names and spec
schemas from this module. A layout without a readable one-row spec of
an expected format is refused with :class:`LayoutSpecError`.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from cassandra_analytics_spark.fs import delete_path
from cassandra_analytics_spark.local_data import local_df

LSH, IVF, PQ, IVF_PQ = "ann-lsh-v1", "ivf-v1", "pq-v1", "ivf-pq-v1"
FORMATS = (LSH, IVF, PQ, IVF_PQ)
# the layouts with a coarse quantizer: cell-partitioned data plus a
# centroid sidecar, so cell routing and float reads work on either
COARSE_FORMATS = (IVF, IVF_PQ)

# the one-row spec of each format; ``format`` is always the first column
SPEC_SCHEMA = {
    LSH: "format string, num_planes int, seed long, dim int",
    IVF: (
        "format string, assignment string, sim_id string, dim int, "
        "num_centroids int, seed long, quantized boolean"
    ),
    PQ: "format string, dim int, m int, ks int, keep_vec boolean",
    IVF_PQ: (
        "format string, dim int, m int, ks int, num_centroids int, "
        "keep_vec boolean, assignment string, sim_id string, "
        "residuals boolean, encoding string"
    ),
}
# the directory partition column of each format's data (flat PQ is one
# unpartitioned table)
PARTITION_COL = {LSH: "sig", IVF: "cell", PQ: None, IVF_PQ: "cell"}
_BUILD_FN = {
    LSH: "build_ann_index",
    IVF: "build_ivf_index",
    PQ: "save_pq_index",
    IVF_PQ: "save_ivf_pq_index",
}


class LayoutSpecError(ValueError):
    """A persisted layout's spec is missing, does not hold exactly one
    row, or names a format the caller cannot read. ``found_format`` is the
    spec's format in the last case and None otherwise."""

    def __init__(self, message: str, found_format: str | None = None):
        super().__init__(message)
        self.found_format = found_format


def spec_path(index_path: str) -> str:
    return f"{index_path}_spec"


def centroids_path(index_path: str) -> str:
    return f"{index_path}_centroids"


def codebook_path(index_path: str) -> str:
    return f"{index_path}_codebook"


def stash_path(index_path: str) -> str:
    """Where :func:`~cassandra_analytics_spark.operators.ann_index.
    compact_ann_index` parks the spec while it rewrites the data."""
    return f"{spec_path(index_path)}__compacting"


def delete_sidecars(spark: SparkSession, index_path: str) -> None:
    """Delete every sidecar BEFORE a build overwrites the data.

    The data, centroid, codebook and spec writes cannot be one atomic
    commit. With the sidecars gone first and the spec written last
    (:func:`write_spec`), a crash mid-rebuild leaves a spec-less layout
    that every read, append and compaction refuses, instead of the
    previous build's sidecars paired with the new data. For production
    refreshes, build to a fresh path and swap."""
    for path in (
        spec_path(index_path),
        centroids_path(index_path),
        codebook_path(index_path),
    ):
        delete_path(spark, path)


def write_spec(
    spark: SparkSession, index_path: str, fmt: str, **fields
) -> None:
    """Write the one-row spec of a ``fmt`` layout. ``fields`` holds a
    value for every column of ``SPEC_SCHEMA[fmt]`` after ``format``.
    Call it last, after the data and the other sidecars."""
    schema = SPEC_SCHEMA[fmt]
    names = [col.split()[0] for col in schema.split(",")][1:]
    row = (fmt, *(fields[name] for name in names))
    local_df(spark, [row], schema).coalesce(1).write.mode("overwrite").parquet(
        spec_path(index_path)
    )


def read_spec(spark: SparkSession, index_path: str, formats) -> dict:
    """The spec row of the layout at ``index_path`` as a dict. Raises
    :class:`LayoutSpecError` when the spec is missing, does not have
    exactly one row, or has a format outside ``formats``."""
    from pyspark.errors import AnalysisException

    path = spec_path(index_path)
    build_fns = " or ".join(_BUILD_FN[f] for f in formats)
    try:
        rows = spark.read.parquet(path).collect()
    except AnalysisException:
        raise LayoutSpecError(
            f"{index_path!r} has no persisted spec ({path}) — it is not a "
            "persisted layout, or it predates spec pinning, or a build or "
            f"compaction crashed mid-write; rebuild it with {build_fns} (or "
            f"restore the {stash_path(index_path)} stash)"
        ) from None
    if len(rows) != 1:
        raise LayoutSpecError(
            f"corrupt spec at {path}: expected exactly one row, found "
            f"{len(rows)} — rebuild the layout with {build_fns}"
        )
    spec = rows[0].asDict()
    fmt = spec.get("format")
    if fmt not in formats:
        raise LayoutSpecError(
            f"spec at {path} has layout format {fmt!r}, this call reads "
            f"{' or '.join(map(repr, formats))} layouts (built with "
            f"{build_fns})",
            found_format=fmt,
        )
    return spec


def write_centroids(
    spark: SparkSession,
    index_path: str,
    centroids: list[tuple[int, list[float]]],
) -> None:
    local_df(
        spark,
        [(cid, [float(x) for x in vec]) for cid, vec in centroids],
        "cid int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(centroids_path(index_path))


def read_centroids(
    spark: SparkSession, index_path: str
) -> list[tuple[int, list[float]]]:
    """The coarse centroid table, sorted by cell id (bounded metadata
    collect)."""
    return sorted(
        (
            (int(r.cid), [float(x) for x in r.centroid])
            for r in spark.read.parquet(centroids_path(index_path)).collect()
        ),
        key=lambda t: t[0],
    )


def write_codebook(spark: SparkSession, index_path: str, codebook) -> None:
    """One row per (subspace, code) centroid of a trained PQ codebook."""
    rows = [
        (i, j, list(codebook.centroids[i][j]))
        for i in range(codebook.m)
        for j in range(codebook.ks)
    ]
    local_df(
        spark, rows, "sub int, code int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(codebook_path(index_path))


def read_codebook(
    spark: SparkSession,
    index_path: str,
    spec: dict,
    codebook=None,
    caller: str = "read_codebook",
):
    """The layout's trained PQ codebook (bounded m·ks metadata collect).

    A caller-preloaded ``codebook`` skips the collect but must match the
    spec's (dim, m, ks) geometry: codes from a different codebook would
    silently mis-decode, so a mismatch is refused, naming ``caller``."""
    from cassandra_analytics_spark.operators.pq import PQCodebook

    geometry = (spec["dim"], spec["m"], spec["ks"])
    if codebook is not None:
        if (codebook.dim, codebook.m, codebook.ks) != geometry:
            raise ValueError(
                f"{caller}: preloaded codebook geometry (dim={codebook.dim}, "
                f"m={codebook.m}, ks={codebook.ks}) does not match the "
                f"layout spec (dim={spec['dim']}, m={spec['m']}, "
                f"ks={spec['ks']}) at {index_path!r} — codes from a "
                "different codebook would silently mis-decode"
            )
        return codebook
    path = codebook_path(index_path)
    rows = spark.read.parquet(path).collect()
    want = spec["m"] * spec["ks"]
    if len(rows) != want:
        raise ValueError(
            f"corrupt PQ codebook at {path}: spec says m={spec['m']} x "
            f"ks={spec['ks']} = {want} centroids, found {len(rows)}"
        )
    books: dict[int, dict[int, tuple]] = {}
    for r in rows:
        books.setdefault(r["sub"], {})[r["code"]] = tuple(
            float(v) for v in r["centroid"]
        )
    return PQCodebook(
        dim=spec["dim"],
        m=spec["m"],
        ks=spec["ks"],
        centroids=tuple(
            tuple(books[i][j] for j in range(spec["ks"]))
            for i in range(spec["m"])
        ),
    )
