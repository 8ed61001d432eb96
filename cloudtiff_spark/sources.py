"""External COG ingestion: read real GeoTIFF files from a directory (or any
Hadoop-compatible FS — file://, s3a://, ...) with Spark's binaryFile source
and run the same S1/S2 analyze stage as the inline-bytes path.

This is the Spark analog of the reference's file/HTTP/S3 readers
(src/io/mod.rs, io/http.rs, io/s3.rs): open_ranged is the one incremental
header-only open over a ``fetch(start, length)`` reader, each transport
supplies only its fetch, and _analyze is the one per-level analyze stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_cog_directory(spark: SparkSession, path: str, pattern: str = "*.tif") -> DataFrame:
    """-> (image_id = file stem, cog = raw bytes, cog_bytes, mod_time, path).
    Spark prunes the scan to the projected columns: without ``cog`` the
    files are never opened."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(path)
        .select(
            F.regexp_extract(F.col("path"), r"([^/]+)\.[^./]+$", 1).alias("image_id"),
            F.col("content").alias("cog"),
            F.col("length").alias("cog_bytes"),
            F.col("modificationTime").alias("mod_time"),
            "path",
        )
    )


def analyze_cog_directory(spark: SparkSession, path: str, pattern: str = "*.tif") -> DataFrame:
    """binaryFile scan -> parse_cogs: per-level metadata for every COG file
    (the whole reference `CloudTiff::open` lifecycle as one Spark stage)."""
    from .operators.cog import parse_cogs

    return parse_cogs(read_cog_directory(spark, path, pattern))


def _local_path(spark_path: str) -> str:
    """binaryFile reports 'file:/abs/path'; strip the scheme for local IO.
    The directory scan (analyze_cog_headers) opens files only; remote
    objects go through analyze_cog_urls (HTTP Range) or analyze_cog_s3
    (ranged GetObject), so other schemes fail loudly here instead of
    silently reading 100%."""
    if spark_path.startswith("file:"):
        p = spark_path[5:]
        while p.startswith("//"):
            p = p[1:]
        return p
    if "://" not in spark_path and ":" not in spark_path.split("/", 1)[0]:
        return spark_path
    raise NotImplementedError(
        f"the header-only directory scan reads local files only, not {spark_path!r}; "
        "analyze remote objects with analyze_cog_urls or analyze_cog_s3"
    )


def open_ranged(fetch, initial_bytes: int = 4096) -> tuple[dict, int]:
    """The one header-only COG open — the reference's incremental async open
    (cog/mod.rs:272-320) over its positional ReadRange trait (io/mod.rs:
    28-74). ``fetch(start, length) -> bytes`` is the transport; a past-EOF
    end comes back short, as file reads and S3/HTTP Range GETs do.

    Fetch bytes [0, n), run the full parse, and on truncation double n and
    re-fetch (each retry re-reads the prefix, as io/http.rs issues a fresh
    ranged GET per request). Returns (cog_info dict, bytes_read). Never
    reads tile data unless the IFD chain actually extends that far."""
    from .tiff import cog_info, is_truncation

    n = initial_bytes
    while True:
        data = fetch(0, n)
        try:
            return cog_info(data), len(data)
        except Exception as exc:
            # is_truncation structurally excludes typed semantic rejects
            # (CloudTiffError), so definitive errors can't be retried
            if not is_truncation(exc):
                raise
            if len(data) < n:  # short read: we already have the whole file
                raise
            n *= 2


def header_info(path: str, initial_bytes: int = 4096) -> tuple[dict, int]:
    """Header-only COG analyze of a local file (open_ranged over seek+read)."""
    with open(path, "rb") as f:

        def fetch(start: int, length: int) -> bytes:
            f.seek(start)
            return f.read(length)

        return open_ranged(fetch, initial_bytes)


def header_info_http(url: str, initial_bytes: int = 4096) -> tuple[dict, int]:
    """Header-only COG analyze over HTTP Range requests — the S6 analog of
    the reference's reqwest range reader (io/http.rs:100-140). Raises if
    the server ignores Range (s3.ranged_get)."""
    from .s3 import ranged_get

    def fetch(start: int, length: int) -> bytes:
        return ranged_get(url, {"Range": f"bytes={start}-{start + length - 1}"}, repr(url))

    return open_ranged(fetch, initial_bytes)


def header_info_s3(fetcher, key: str, initial_bytes: int = 4096) -> tuple[dict, int]:
    """Header-only COG analyze through a ranged S3 GetObject client (S7,
    io/s3.rs:29-92 parity). ``fetcher`` is any object with
    ``fetch(key, start, length) -> bytes`` (cloudtiff_spark.s3.
    S3RangeFetcher for real/compatible S3; tests inject one pointed at a
    local SigV4-checking 206 server)."""
    return open_ranged(lambda start, length: fetcher.fetch(key, start, length), initial_bytes)


HEADER_SCHEMA = "image_id string, level int, lw int, lh int, tile_w int, tile_h int, n_tiles int, compression string, spp int, bits int, photometric int, sample_format int, epsg int, origin_x double, origin_y double, scale_px double, bytes_read long, file_bytes long"
_HEADER_COLS = [c.split()[0] for c in HEADER_SCHEMA.split(", ")]


def _analyze(srcs: DataFrame, opener) -> DataFrame:
    """The one S2 analyze stage over (image_id, src, file_bytes) rows:
    ``opener()`` runs once per task and returns ``open_one(src) ->
    (info, bytes_read)``; every level becomes one HEADER_SCHEMA row."""
    import pandas as pd

    from .operators.cog import level_fields

    def gen(batches):
        open_one = opener()
        for pdf in batches:
            rows = []
            cols = (pdf[c].to_numpy() for c in ("image_id", "src", "file_bytes"))
            for image_id, src, file_bytes in zip(*cols):
                info, nread = open_one(src)
                rows += [
                    {"image_id": image_id, **lev, "bytes_read": nread, "file_bytes": file_bytes}
                    for lev in level_fields(info)
                ]
            yield pd.DataFrame(rows, columns=_HEADER_COLS)

    return srcs.mapInPandas(gen, schema=HEADER_SCHEMA)


def _remote_srcs(spark: SparkSession, srcs: list[str]) -> DataFrame:
    """(image_id = object stem, src, file_bytes = -1: size unknown without
    a HEAD request), spread over the cluster (one partition when empty)."""
    return spark.createDataFrame(
        [(s.rsplit("/", 1)[-1].rsplit(".", 1)[0], s, -1) for s in srcs],
        "image_id string, src string, file_bytes long",
    ).repartition(max(1, min(len(srcs), spark.sparkContext.defaultParallelism)))


def analyze_cog_headers(
    spark: SparkSession, path: str, pattern: str = "*.tif", initial_bytes: int = 4096
) -> DataFrame:
    """S2 analyze over a COG directory reading ONLY file headers.

    The binaryFile scan is pruned to (path, length) — Spark's binary source
    never opens the files when `content` isn't projected — and the ranged
    parse runs in a mapInPandas stage over the path list, so a directory of
    N-gigabyte COGs costs megabytes of IO (vs read_cog_directory, which
    ships every byte). bytes_read/file_bytes columns report the ratio."""
    srcs = read_cog_directory(spark, path, pattern).select(
        "image_id", F.col("path").alias("src"), F.col("cog_bytes").alias("file_bytes")
    )
    return _analyze(
        srcs.repartition(spark.sparkContext.defaultParallelism),
        lambda: lambda p: header_info(_local_path(p), initial_bytes),
    )


def analyze_cog_s3(
    spark: SparkSession,
    keys: list[str],
    endpoint: str,
    bucket: str,
    access_key: str,
    secret_key: str,
    region: str = "us-east-1",
    initial_bytes: int = 4096,
) -> DataFrame:
    """S7: header-only analyze of S3 objects across the cluster. The key
    list is parallelized; every task builds its own S3RangeFetcher from the
    (serialized) credentials and issues only ranged GetObject calls —
    same output schema as analyze_cog_headers."""

    def opener():
        from .s3 import S3RangeFetcher

        fetcher = S3RangeFetcher(endpoint, bucket, access_key, secret_key, region)
        return lambda key: header_info_s3(fetcher, key, initial_bytes)

    return _analyze(_remote_srcs(spark, keys), opener)


def analyze_cog_urls(
    spark: SparkSession, urls: list[str], initial_bytes: int = 4096
) -> DataFrame:
    """Header-only analyze over a list of HTTP(S) COG URLs: the URL list is
    parallelized across the cluster and every task issues only ranged GETs
    (header_info_http). The S6/S7 shape — for S3, point this at presigned
    URLs or use analyze_cog_s3; the engine-side plan is identical."""
    return _analyze(
        _remote_srcs(spark, urls), lambda: lambda u: header_info_http(u, initial_bytes)
    )


def disect(data: bytes, tags: bool = False) -> str:
    """S10 debug dump (cog/mod.rs:249-261): printable structure of a COG.
    ``tags=True`` additionally renders every IFD0 tag via tag_to_string
    (the reference Tiff Display walks all tags, tiff/mod.rs:179-190)."""
    from .tiff import cog_info, parse_tiff, tag_to_string

    t = parse_tiff(data)
    lines = [
        f"TIFF {'big' if t['big'] else 'classic'} endian={'LE' if t['endian'] == '<' else 'BE'}"
        f" ifds={len(t['ifds'])}"
    ]
    if tags:
        for code in sorted(t["ifds"][0]):
            lines.append("  " + tag_to_string(code, t["ifds"][0][code]))
    info = cog_info(data)
    for i, lev in enumerate(info["levels"]):
        cols = -(-lev["width"] // lev["tile_w"])
        rows = -(-lev["height"] // lev["tile_h"])
        kind = "full" if lev["overview"] is None else f"overview {lev['overview']}"
        from .errors import photometric_name

        lines.append(
            f"  level {i} ({kind})"
            f": {lev['width']}x{lev['height']} tiles {cols}x{rows}@{lev['tile_w']}"
            f" comp={lev['compression']} pred={lev.get('predictor', 1)}"
            f" photometric={photometric_name(lev.get('photometric', 1))}"
        )
    p = info["projection"]
    if p:
        lines.append(
            f"  projection epsg={p['epsg']} origin=({p['origin_x']}, {p['origin_y']})"
            f" scale={p['scale_px']}"
        )
    return "\n".join(lines)
