"""Oracle sensitivity probe: perturb one input row, assert the driver-style
compare goes RED for every query that claims to depend on that input.

A green CORRECTNESS row only means engine == oracle; if both sides were
accidentally constant (or the compare vacuous), corruption would sail
through. This probe mutates one document / one embedding / one image
payload / one container tile via a monkeypatched loader and re-runs the
exact value-hash compare: queries listed under the mutation MUST
mismatch, and MUST match again unmutated. Exit 0 = every probe behaved.

Usage: python tools/mutation_probe.py   [env: SF_DIR]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check_correctness import arrow_rows, value_hash  # noqa: E402 — the
# canonical driver-parity compare; re-implementing it here could silently
# diverge from the mimic (it changed once already, to catch typed values)

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

#: mutation name -> (queries that must go red under it)
PROBES = {
    "doc_text": [
        "simhash", "simhash_pairs", "fingerprint", "token_stats",
        "token_count_bpe", "dedup_exact",
    ],
    "embedding": ["embed_topk", "embed_near_dup", "quantized_topk"],
    "image_payload": [
        "decode_check", "image_features", "thumbnails",
        "region_render", "blocked_render", "wmts_render",
    ],
    # env_probe reads lineitem via spark.read directly (schema probe), so
    # the _t patch does not reach it — its cents digit is exercised by the
    # engines' own divergence, not this probe
    "lineitem_price": ["pricing_summary", "top_orders"],
    "strip_payload": ["strip_ingest"],
    "sparse_payload": ["sparse_cog"],
    "mask_payload": ["mask_ingest"],
    "jpeg_payload": ["cog_jpeg"],
}

#: tile-payload mutation -> (container fixture, image_id, mask chain?).
#: strip_000 is UNCOMPRESSED (i%3==0), so its stomp changes decoded pixels
#: in place; the mask stomp hits payloads disjoint from the image tiles, so
#: it reaches mask_ingest alone
TILE_STOMPS = {
    "strip_payload": ("strip", "strip_000", False),
    "sparse_payload": ("sparse", "sparse_000", False),
    "mask_payload": ("sparse", "sparse_000", True),
    "jpeg_payload": ("jpeg", "jpegcog_000", False),
}


def compare(spark, con, E, name: str) -> bool:
    sdf = E.queries()[name](spark, SF_DIR)
    srows, scols = arrow_rows(sdf.toArrow())
    res = con.execute(E.oracle_sql()[name])
    orows, ocols = arrow_rows(res.arrow())
    return (
        len(srows) == len(orows)
        and sorted(scols) == sorted(ocols)
        and value_hash(srows, scols) == value_hash(orows, ocols)
    )


def main() -> int:
    import duckdb
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from cloudtiff_spark.session import get_spark

    spark = get_spark("mutation-probe", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    orig_docs, orig_emb = E._docs, E._emb
    orig_tables, orig_t = E._fixture_tables, E._t
    orig_cogs = E._fixture_cogs

    def restore():
        """Reinstall the unpatched loaders and drop every session cache
        built through a patched one."""
        E._docs, E._emb, E._fixture_tables, E._t = orig_docs, orig_emb, orig_tables, orig_t
        E._fixture_cogs = orig_cogs
        E._clear_session_caches()

    def stomp_tile(which: str, image_id: str, mask: bool):
        """Install a container loader that overwrites 4 bytes in the middle
        of the first stored tile payload (> 8 bytes) of one container's
        image or mask IFD chain. The position comes from cog_info, not a
        fraction of the blob, so the stomp always lands inside a payload:
        either the codec stream breaks (typed sentinel row) or the decoded
        pixels change; the hash moves both ways."""
        from cloudtiff_spark.tiff import cog_info

        blob = orig_cogs(spark, which).filter(F.col("image_id") == image_id).first()["cog"]
        info = cog_info(bytes(blob))
        off, cnt = next(
            (off, cnt)
            for lev in info["mask_levels" if mask else "levels"]
            for off, cnt in zip(lev["offsets"], lev["byte_counts"])
            if cnt > 8
        )
        pos = off + cnt // 2  # substring() is 1-based: keep bytes [1, pos]
        stomped = F.expr(
            f"concat(substring(cog, 1, {pos}), X'00FF00FF', substring(cog, {pos} + 5))"
        )

        def cogs(s, w):
            df = orig_cogs(s, w)
            if w != which:
                return df
            return df.withColumn(
                "cog", F.when(F.col("image_id") == image_id, stomped).otherwise(F.col("cog"))
            )

        E._fixture_cogs = cogs

    def mutate(kind: str):
        """Install a loader that perturbs exactly one row."""
        restore()
        if kind == "doc_text":
            # full replacement, not an append: sketch operators (winnowing
            # fingerprint) are insensitive to benign suffixes BY DESIGN.
            # Target a doc that participates in a simhash_pairs result —
            # pair queries are only sensitive to mutations of pair MEMBERS
            row = con.execute(E.oracle_sql()["simhash_pairs"]).fetchone()
            target = int(row[0]) if row else 0
            E._docs = lambda s, d: orig_docs(s, d).withColumn(
                "text",
                F.when(
                    F.col("doc_id") == target,
                    F.lit("probe mutated replacement text words here entirely new"),
                ).otherwise(F.col("text")),
            )
        elif kind == "embedding":
            E._emb = lambda s, d: orig_emb(s, d).withColumn(
                "embedding",
                F.when(
                    F.col("vec_id") == 0,
                    F.transform("embedding", lambda x: x + F.lit(0.01)),
                ).otherwise(F.col("embedding")),
            )
        elif kind == "image_payload":
            # target an image that appears in EVERY graded render output
            # (blocked_render rows are a subset of region_render's, but a
            # wmts tile set need not cover the same images) — intersect the
            # two oracles so all three render queries are guaranteed
            # sensitive; fall back to the first subset image if empty
            row = con.execute(
                "SELECT image_id FROM ("
                + E.oracle_sql()["blocked_render"]
                + ") INTERSECT SELECT image_id FROM ("
                + E.oracle_sql()["wmts_render"]
                + ") ORDER BY image_id LIMIT 1"
            ).fetchone()
            render_target = row[0] if row else None

            def tables(s, d):
                images, meta, queries = orig_tables(s, d)
                # corrupt one 10%-subset image's payload tail byte
                first = render_target or (
                    images.filter(F.col("image_id").endswith("0"))
                    .select("image_id")
                    .orderBy("image_id")
                    .first()[0]
                )
                # stomp 4 mid-payload bytes (a trailing-byte flip would sit
                # past the entropy-coded data and decode identically)
                images = images.withColumn(
                    "bytes",
                    F.when(
                        F.col("image_id") == first,
                        F.expr(
                            "concat(substring(bytes, 1, cast(length(bytes)/2 as int)), "
                            "X'00FF00FF', "
                            "substring(bytes, cast(length(bytes)/2 as int) + 5))"
                        ),
                    ).otherwise(F.col("bytes")),
                )
                return images, meta, queries

            E._fixture_tables = tables
        elif kind in TILE_STOMPS:
            stomp_tile(*TILE_STOMPS[kind])
        elif kind == "lineitem_price":

            # top_orders is a top-10: only a mutation INSIDE the current
            # top set can change it. Take the reigning #1 order (which also
            # exists in pricing_summary's full aggregate).
            min_key = int(
                con.execute(E.oracle_sql()["top_orders"]).fetchone()[0]
            )

            def t(s, d, name):
                df = orig_t(s, d, name)
                if name == "lineitem":
                    df = df.withColumn(
                        "l_extendedprice",
                        F.when(
                            (F.col("l_orderkey") == min_key) & (F.col("l_linenumber") == 1),
                            F.col("l_extendedprice") + 1.0,
                        ).otherwise(F.col("l_extendedprice")),
                    )
                return df

            E._t = t
        else:
            raise ValueError(kind)

    failures = []
    for kind, names in PROBES.items():
        mutate(kind)
        for name in names:
            red = not compare(spark, con, E, name)
            print(f"{'ok  ' if red else 'MISS'} {kind:15s} -> {name:18s} "
                  f"{'went red' if red else 'STAYED GREEN (vacuous oracle?)'}")
            if not red:
                failures.append((kind, name))
    # sanity: unmutated is green again
    restore()
    for name in ["simhash", "embed_topk", "decode_check", "pricing_summary",
                 "strip_ingest", "sparse_cog", "mask_ingest", "cog_jpeg"]:
        ok = compare(spark, con, E, name)
        print(f"{'ok  ' if ok else 'FAIL'} unmutated -> {name}: {'green' if ok else 'RED'}")
        if not ok:
            failures.append(("unmutated", name))
    spark.stop()
    print("FAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
