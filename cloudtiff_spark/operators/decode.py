"""Pixel decode stage — Arrow-batched pandas UDFs over the binary column.

Mirrors Level::extract_tile_from_bytes (/root/reference/src/cog/level.rs:
335-373): decompress (F4/F5) -> shape-validate -> raster. The phash check
reproduces FIXTURES.md T1: phash == low 64 bits of sha256(decoded pixels),
which makes the whole decode chain self-verifying against the generator.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..codecs import decode_image


def _phash(pixels) -> np.int64:
    """FIXTURES.md T1: int64 of the low 8 bytes of sha256(pixels)."""
    digest = hashlib.sha256(pixels).digest()
    return np.int64(np.uint64(int.from_bytes(digest[-8:], "big")))


@pandas_udf(LongType())
def phash_udf(data: pd.Series, fmt: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
    out = np.zeros(len(data), dtype=np.int64)
    dv, fv = data.to_numpy(), fmt.to_numpy()
    wv, hv = w.to_numpy(), h.to_numpy()
    for i in range(len(out)):
        out[i] = _phash(decode_image(dv[i], fv[i], int(wv[i]), int(hv[i])).tobytes())
    return pd.Series(out)


@pandas_udf(LongType())
def raster_phash_udf(raster: pd.Series) -> pd.Series:
    """phash of a PRE-decoded RGB8 raster (session raster cache path) —
    identical bytes to the decode-path hash, so phash_ok still verifies
    the decode end-to-end across the cache build."""
    out = np.zeros(len(raster), dtype=np.int64)
    rv = raster.to_numpy()
    for i in range(len(out)):
        if rv[i] is None:  # cache-build decode failure: no pixels to hash
            continue
        out[i] = _phash(rv[i])
    return pd.Series(out)


def decode_check(images: DataFrame) -> DataFrame:
    """(image_id, fmt, phash_ok): full-decode verification of every image.

    phash_ok requires bit-exact decode for png/deflate/lzw and exact
    reproduction of the deterministic lossy decode for 'jpeg' — i.e. the
    engine-side decoder matches the generator byte-for-byte. With a
    `raster` column (pre-decoded cache) the hash is computed over the
    cached pixels, verifying the decode done at cache-build time.
    """
    if "raster" in images.columns:
        return images.select(
            "image_id",
            "fmt",
            (
                F.col("raster").isNotNull()
                & (raster_phash_udf(F.col("raster")) == F.col("phash"))
            ).alias("phash_ok"),
        )
    return images.select(
        "image_id",
        "fmt",
        (phash_udf(F.col("bytes"), F.col("fmt"), F.col("w"), F.col("h")) == F.col("phash")).alias(
            "phash_ok"
        ),
    )


_STATUS_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("ok", BooleanType()),
        StructField("err_kind", StringType()),
    ]
)


def decode_status(images: DataFrame) -> DataFrame:
    """Row-grain decode status (SURVEY §2.3 / §4.1 'error tolerance').

    The reference silently drops unfetchable/undecodable tiles
    (filter_map + warn, render/tiles.rs:33-56); a Spark task would instead
    FAIL on the first corrupt payload. This stage catches per-row decode
    failures and classifies them:

    - ``decode_error``   — the decoder raised (truncated/corrupt stream,
      bad container structure, buffer-size invariant violation),
    - ``phash_mismatch`` — decoded cleanly but the pixels are not the ones
      the generator hashed (silent corruption),
    - ok rows carry err_kind ''.

    A ``raster`` column (the session decoded cache, same contract as
    decode_check) short-circuits the decode: a non-null raster is the
    cache build's decode output and classifies by its phash; a null
    raster falls back to decoding ``bytes`` when present, else it IS the
    cache-recorded decode failure. Identical classification either way —
    the cache's decode is the same decode_image call.
    """
    has_raster = "raster" in images.columns
    has_bytes = "bytes" in images.columns

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids, oks, kinds = [], [], []
            rasters = pdf["raster"].to_numpy() if has_raster else None
            data_c = pdf["bytes"].to_numpy() if has_bytes else None
            cols = (pdf[c].to_numpy() for c in ("image_id", "fmt", "w", "h", "phash"))
            for i, (image_id, fmt, w, h, ph) in enumerate(zip(*cols)):
                if rasters is not None and rasters[i] is not None:
                    got = _phash(rasters[i])
                elif data_c is not None:
                    try:
                        arr = decode_image(data_c[i], fmt, int(w), int(h))
                    except Exception:
                        ids.append(image_id)
                        oks.append(False)
                        kinds.append("decode_error")
                        continue
                    got = _phash(arr.tobytes())
                else:  # cache-recorded decode failure, no bytes to retry
                    ids.append(image_id)
                    oks.append(False)
                    kinds.append("decode_error")
                    continue
                ok = bool(got == np.int64(ph))
                ids.append(image_id)
                oks.append(ok)
                kinds.append("" if ok else "phash_mismatch")
            yield pd.DataFrame({"image_id": ids, "ok": oks, "err_kind": kinds})

    return images.mapInPandas(gen, schema=_STATUS_SCHEMA)


def quarantine(images: DataFrame) -> DataFrame:
    """Decode-failure quarantine — the engine's replacement for the
    reference's silent drop (tiles.rs:33-56): corrupt rows land in a
    queryable table instead of vanishing or killing the task.

    Semantically this is SURVEY §2.3's anti join ``needed ⋉̸ decoded``:
    decode_status is TOTAL (exactly one status row per input row), so the
    complement of the decoded-ok keys is precisely the not-ok rows, and
    the filter + key join below computes the identical relation with ONE
    decode pass (an explicit anti join would embed the decode subtree
    twice — measured 2x the dominant cost).

    Returns (image_id, fmt, err_kind)."""
    st = decode_status(images)
    bad = st.filter(~F.col("ok")).select("image_id", "err_kind")
    return bad.join(images.select("image_id", "fmt"), "image_id", "inner").select(
        "image_id", "fmt", "err_kind"
    )
