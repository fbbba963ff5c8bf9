"""spark-submit entry point: the multimodal pipeline over extracted spans.

Chains the extraction output into the media lane:

    read spans table (jobs/extract.py output, or --gen to self-generate
    an interleaved corpus + synthetic media store with REAL containers)
      → media spans joined to the media store on (doc_id, media_ref)
      → per-modality feature kernels with real codecs (PNG/JPEG images,
        WAV audio, AVI/MJPEG video) — quarantine rows for undecodable
        blobs, never task failures
      → optional image resize (--resize W H) re-encoded in-container
      → write features (+ resized media) parquet, print one JSON stats
        line (per-modality counts, quarantine count, decode throughput)

Usage:
    spark-submit --master local[32] --py-files dist/engine.zip \\
        jobs/media.py --spans /tmp/mrc_out/data --store /data/media \\
        --out /tmp/mrc_media
    spark-submit ... jobs/media.py --gen 500 --out /tmp/mrc_media
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from machine_readability_checker_spark.operators.multimodal import (  # noqa: E402
    MEDIA_SCHEMA,
    extract_audio_features,
    extract_media_features,
    extract_video_features,
    media_from_spans,
    resize_images,
)
from machine_readability_checker_spark.session import (  # noqa: E402
    default_cores,
    get_spark,
)


def _gen_interleaved(spark, n_docs: int):
    """Deterministic interleaved corpus + media store with REAL
    containers: every doc carries one JPEG, every 3rd a WAV, every 5th
    an MJPEG AVI, every 6th a TIFF scan, referenced from its spans."""
    import numpy as np

    from machine_readability_checker_spark.core.avi import encode_avi
    from machine_readability_checker_spark.core.bmp import encode_bmp
    from machine_readability_checker_spark.core.gif import encode_gif
    from machine_readability_checker_spark.core.jpeg import encode_jpeg
    from machine_readability_checker_spark.core.tiff import encode_tiff
    from machine_readability_checker_spark.core.wav import encode_wav

    spans_rows = []
    media_rows = []
    for i in range(n_docs):
        rng = np.random.RandomState(1000 + i)
        doc = f"doc{i:06d}"
        spans = [
            {"kind": "main", "text": f"lead paragraph of {doc}", "media_ref": "", "offset": 0},
        ]
        img = np.clip(
            rng.randint(40, 200) + 20 * np.sin(np.mgrid[0:16, 0:16][1] / 4),
            0, 255,
        ).astype(np.uint8)
        rgb = np.stack([img] * 3, -1)
        # every 3rd JPEG is progressive (SOF2) — like a real crawl
        jpg = encode_jpeg(
            16, 16, 3, rgb.tobytes(), quality=85,
            progressive=(i % 3 == 1),
        )
        if i % 2 == 0:
            # half the camera uploads carry EXIF; every 6th has GPS PII
            from machine_readability_checker_spark.core.exif import (
                build_exif_app1,
                insert_app1,
            )

            jpg = insert_app1(
                jpg,
                build_exif_app1(
                    make=f"Cam{i % 5}",
                    orientation=(i % 8) + 1,
                    gps=(float(i % 91 - 45), float(i % 181 - 90))
                    if i % 6 == 0
                    else None,
                ),
            )
        spans.append({"kind": "media", "text": "", "media_ref": "m.jpg", "offset": 1})
        media_rows.append((doc, "m.jpg", "image", bytearray(jpg)))
        if i % 4 == 0:
            spans.append({"kind": "media", "text": "", "media_ref": "m.gif", "offset": 4})
            media_rows.append(
                (doc, "m.gif", "image",
                 bytearray(encode_gif(16, 16, 3, rgb.tobytes())))
            )
        if i % 6 == 2:
            # scanned-page TIFF, cycling compression and byte order
            comp = ("none", "packbits", "lzw")[i % 3]
            spans.append({"kind": "media", "text": "", "media_ref": "m.tif", "offset": 6})
            media_rows.append(
                (doc, "m.tif", "image",
                 bytearray(encode_tiff(
                     16, 16, 3, rgb.tobytes(), comp,
                     "<" if i % 2 == 0 else ">",
                 )))
            )
        if i % 7 == 0:
            spans.append({"kind": "media", "text": "", "media_ref": "m.bmp", "offset": 5})
            media_rows.append(
                (doc, "m.bmp", "image",
                 bytearray(encode_bmp(16, 16, 3, rgb.tobytes())))
            )
        if i % 3 == 0:
            pcm = (np.sin(np.arange(800) / (3 + i % 7)) * 18000).astype("<i2")
            spans.append({"kind": "media", "text": "", "media_ref": "m.wav", "offset": 2})
            media_rows.append(
                (doc, "m.wav", "audio", bytearray(encode_wav(8000, 1, 16, pcm.tobytes())))
            )
        if i % 5 == 0:
            spans.append({"kind": "media", "text": "", "media_ref": "m.avi", "offset": 3})
            media_rows.append(
                (doc, "m.avi", "video", bytearray(encode_avi(16, 16, 8.0, [jpg, jpg, jpg])))
            )
        spans_rows.append((doc, spans))
    spans_df = spark.createDataFrame(
        spans_rows,
        schema="doc_id string, spans array<struct"
        "<kind:string,text:string,media_ref:string,offset:int>>",
    )
    store = spark.createDataFrame(media_rows, schema=MEDIA_SCHEMA)
    return spans_df, store


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spans", help="parquet path of extracted spans")
    ap.add_argument(
        "--spans-iceberg", metavar="TABLE_ROOT",
        help="read the spans table from an Iceberg-layout table root "
        "(jobs/extract.py --iceberg output) instead of a bare parquet "
        "path; snapshot pruning applies",
    )
    ap.add_argument(
        "--version", type=int, default=None,
        help="with --spans-iceberg: time-travel read of snapshot N "
        "(default: current snapshot)",
    )
    ap.add_argument(
        "--since-version", type=int, default=None,
        help="with --spans-iceberg: INCREMENTAL read — only the splits "
        "committed after snapshot N (Iceberg incremental-scan "
        "semantics); an exporter scheduled per extraction wave "
        "processes each doc exactly once",
    )
    ap.add_argument("--store", help="parquet path of the media store")
    ap.add_argument(
        "--cdc-stats", action="store_true",
        help="report the content-defined-chunking storage answer over "
        "the media store (FastCDC chunk counts/bytes + sub-file dedup "
        "ratio — what a chunk store would save beyond whole-payload "
        "revisit dedup)",
    )
    ap.add_argument("--gen", type=int, default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--resize", nargs=2, type=int, metavar=("W", "H"))
    ap.add_argument(
        "--dedup-media", action="store_true",
        help="write near-dup pairs for the WHOLE store (image dHash, "
        "audio band-energy fingerprint, video majority frame fold; "
        "pairs never cross a modality) under --out/media_dups",
    )
    ap.add_argument(
        "--dedup-images", action="store_true",
        help="also write image near-dup pairs (dHash, banded Hamming "
        "join) and exact cross-container duplicate groups (normalized "
        "pixel digest) under --out/image_dups",
    )
    ap.add_argument(
        "--auto-orient", action="store_true",
        help="normalize JPEGs to upright pixels per their EXIF "
        "orientation tag (transform applied, metadata scrubbed so the "
        "tag cannot be double-applied) under --out/oriented",
    )
    ap.add_argument(
        "--export-warc", type=int, default=0, metavar="N_SHARDS",
        help="archive the media store as N shards of WARC resource "
        "records (one gzip member per blob, sniffed Content-Type, "
        "CDX-indexable so single blobs range-read out of the archive); "
        "stats reconcile store size vs indexed vs digest-verified",
    )
    ap.add_argument(
        "--dedup-archive", action="store_true",
        help="with --export-warc: store each distinct payload once and "
        "archive repeats as WARC revisit records (identical-payload-"
        "digest profile); stats gain the revisit count and the audit "
        "covers declared digests",
    )
    ap.add_argument(
        "--export-interleaved", type=int, default=0, metavar="N_SHARDS",
        help="export the corpus as N gzipped-JSONL shards of interleaved "
        "text+media segment sequences (MMC4/OBELICS shape) plus a "
        "revisit-deduplicated WARC resource sidecar holding the media "
        "bytes, CDX-indexed; stats reconcile docs vs jsonl lines and "
        "media segments vs sidecar captures",
    )
    ap.add_argument(
        "--drop-low-quality-media", nargs=2, type=int,
        metavar=("MIN_W", "MIN_H"),
        help="with --export-interleaved: drop media segments whose blob "
        "failed to decode (any modality) or whose image/video frame "
        "falls below MIN_W x MIN_H or beyond 4:1 aspect (LAION-style "
        "gates), re-merging text around removals",
    )
    ap.add_argument(
        "--drop-frequent-media", type=int, default=0, metavar="MAX_OCC",
        help="with --export-interleaved: before exporting, drop media "
        "whose payload sha256 appears more than MAX_OCC times corpus-"
        "wide (OBELICS repeated-image filter: logos/banners/tracking "
        "pixels), re-merging the text around removals; stats gain the "
        "dropped count",
    )
    ap.add_argument(
        "--export-pairs", type=int, default=0, metavar="N_SHARDS",
        help="mine (media, caption) pairs from the interleaved spans "
        "(alt text preferred, else surrounding-context text), join the "
        "media bytes, and export N img2dataset-layout tar shards "
        "({key}.<ext> + {key}.txt + {key}.json) — the CLIP-training "
        "export; stats reconcile mined pairs vs tar samples",
    )
    ap.add_argument(
        "--min-pair-score", type=float, default=None, metavar="SCORE",
        help="with --export-pairs: gate mined pairs on the cosine of "
        "their text/media tower embeddings (the CLIP-score filter, "
        "operators/pairscore.py) before export.  No CLIP weights ship "
        "in this container, so the towers are the documented "
        "deterministic stand-ins (hashing-trick text vectors + digest "
        "stub media vectors) — swap in real model output tables for "
        "production; stats gain pairs_scored/pairs_below_score",
    )
    ap.add_argument(
        "--export-webdataset", type=int, default=0, metavar="N_SHARDS",
        help="export the corpus as N WebDataset tar shards — per doc a "
        "{key}.json segment-sequence member plus {key}.{j}.{ext} "
        "members holding each media segment's bytes (ext from the "
        "magic-byte sniffer) — the sample-group layout multimodal "
        "training loaders consume; stats reconcile docs and media "
        "member counts",
    )
    ap.add_argument(
        "--strip-exif", action="store_true",
        help="write a metadata-scrubbed copy of the store (JPEG "
        "APP1/APP2/APP13/COM segments and PNG text/eXIf/tIME chunks "
        "removed, pixels byte-identical) under --out/scrubbed, plus a "
        "PII report (GPS-bearing blobs) under --out/exif_report",
    )
    ap.add_argument(
        "--cores", type=int,
        default=int(default_cores()),
    )
    args = ap.parse_args()

    spark = get_spark(
        "mrc-media",
        master=f"local[{args.cores}]",
        shuffle_partitions=max(8, args.cores),
    )
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    inc_gen = None  # set by --since-version (generation-named exports)

    if args.gen:
        spans_df, store = _gen_interleaved(spark, args.gen)
    else:
        if not ((args.spans or args.spans_iceberg) and args.store):
            ap.error(
                "--spans/--spans-iceberg and --store required without --gen"
            )
        if args.spans_iceberg:
            from machine_readability_checker_spark.sources.iceberg_table import (
                IcebergLayoutTable,
            )

            table = IcebergLayoutTable(args.spans_iceberg)
            cur = table.current_snapshot()
            cur_v = int(cur["version"]) if cur else None
            if args.since_version is not None:
                spans_df = table.read_incremental(
                    spark, args.since_version, cur_v
                ).select("doc_id", "spans")
                # incremental exports land in a generation directory so
                # repeated delta runs are append-only side by side
                inc_gen = f"gen-{args.since_version + 1}-{cur_v}"
            else:
                version = (
                    args.version if args.version is not None else cur_v
                )
                spans_df = table.read(spark, version=version).select(
                    "doc_id", "spans"
                )
        else:
            spans_df = spark.read.parquet(args.spans).select(
                "doc_id", "spans"
            )
        store = spark.read.parquet(args.store)

    joined = media_from_spans(spans_df, store).persist()

    features = {
        "image": extract_media_features(joined.filter("media_type = 'image'")),
        "audio": extract_audio_features(joined.filter("media_type = 'audio'")),
        "video": extract_video_features(joined.filter("media_type = 'video'")),
    }
    stats = {}
    total = 0
    quarantined = 0
    for mod, df in features.items():
        df.write.mode("overwrite").parquet(os.path.join(args.out, mod))
        back = spark.read.parquet(os.path.join(args.out, mod))
        agg = back.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("decode_error").isNotNull(), 1).otherwise(0)
            ).alias("bad"),
        ).collect()[0]
        stats[mod] = {"n": agg["n"], "quarantined": agg["bad"] or 0}
        total += agg["n"]
        quarantined += agg["bad"] or 0

    if args.resize:
        w, h = args.resize
        resize_images(
            joined.filter("media_type = 'image'"), target_w=w, target_h=h
        ).write.mode("overwrite").parquet(os.path.join(args.out, "resized"))

    extra = {}
    if args.cdc_stats:
        from machine_readability_checker_spark.operators.cdc import (
            chunk_blobs,
            chunk_dedup_stats,
        )

        cstats = chunk_dedup_stats(
            chunk_blobs(store.select("media_ref", "content"),
                        id_col="media_ref")
        ).first()
        extra["cdc"] = {
            "total_chunks": cstats["total_chunks"],
            "distinct_chunks": cstats["distinct_chunks"],
            "total_bytes": cstats["total_bytes"],
            "distinct_bytes": cstats["distinct_bytes"],
            "dedup_ratio": cstats["dedup_ratio"],
        }

    if args.dedup_media:
        from machine_readability_checker_spark.operators.mediahash import (
            media_near_dups,
        )

        store_ids = joined.withColumn(
            "img_id", F.concat_ws("#", "doc_id", "media_ref")
        )
        media_near_dups(store_ids, id_col="img_id").write.mode(
            "overwrite"
        ).parquet(os.path.join(args.out, "media_dups"))
        back = spark.read.parquet(os.path.join(args.out, "media_dups"))
        extra["media_dup_pairs"] = {
            r.media_type: r.n
            for r in back.groupBy("media_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

        # keep-one-per-cluster: connected components over the pair
        # graph, canonical = min id; the keep list is what a training
        # pipeline joins against (reuses the text lanes' machinery)
        from machine_readability_checker_spark.operators.dedup import (
            dedup_keep_list,
            near_dup_clusters,
        )

        clusters = near_dup_clusters(back)
        keep = dedup_keep_list(
            store_ids.select("img_id", "media_type"), clusters,
            id_col="img_id",
        )
        keep.write.mode("overwrite").parquet(
            os.path.join(args.out, "media_keep")
        )
        extra["media_kept_after_dedup"] = spark.read.parquet(
            os.path.join(args.out, "media_keep")
        ).count()
    if args.dedup_images:
        from machine_readability_checker_spark.operators.imagehash import (
            exact_image_dups,
            image_near_dups,
        )

        imgs = joined.filter("media_type = 'image'").withColumn(
            "img_id", F.concat_ws("#", "doc_id", "media_ref")
        )
        pairs = image_near_dups(imgs, id_col="img_id", max_hamming=4)
        pairs.write.mode("overwrite").parquet(
            os.path.join(args.out, "image_dups", "pairs")
        )
        groups = exact_image_dups(imgs, id_col="img_id")
        groups.write.mode("overwrite").parquet(
            os.path.join(args.out, "image_dups", "exact_groups")
        )
        extra.update({
            "image_dup_pairs": spark.read.parquet(
                os.path.join(args.out, "image_dups", "pairs")
            ).count(),
            "image_exact_dup_groups": spark.read.parquet(
                os.path.join(args.out, "image_dups", "exact_groups")
            ).count(),
        })

    if args.auto_orient:
        from machine_readability_checker_spark.operators.multimodal import (
            auto_orient_images,
        )

        auto_orient_images(
            joined.filter("media_type = 'image'")
        ).write.mode("overwrite").parquet(os.path.join(args.out, "oriented"))
        ob = spark.read.parquet(os.path.join(args.out, "oriented"))
        extra["oriented"] = {
            "rotated": ob.filter(
                F.coalesce(F.col("orientation"), F.lit(1)) > 1
            ).count(),
            "passthrough": ob.filter(
                F.coalesce(F.col("orientation"), F.lit(1)) <= 1
            ).count(),
            "quarantined": ob.filter(
                F.col("decode_error").isNotNull()
            ).count(),
        }

    if args.export_warc:
        from machine_readability_checker_spark.sources.warcsink import (
            audit_cdxj,
            build_cdxj,
            write_warc_resources,
        )

        warc_dir = os.path.join(args.out, "media_warc")
        write_warc_resources(
            joined.select("doc_id", "media_ref", "content"),
            warc_dir,
            n_shards=args.export_warc,
            dedup=args.dedup_archive,
        ).write.mode("overwrite").parquet(
            os.path.join(args.out, "media_warc_manifest")
        )
        glob = os.path.join(warc_dir, "*.warc.gz")
        idx = build_cdxj(spark, glob)
        audit = audit_cdxj(spark, idx, glob).agg(
            F.sum("n_captures").alias("c"),
            F.sum("n_digest_ok").alias("d"),
        ).collect()[0]
        n_store = joined.count()
        extra["media_warc"] = {
            "blobs": n_store,
            "cdx_captures": int(audit["c"] or 0),
            "cdx_digest_ok": int(audit["d"] or 0),
            "matches": n_store == (audit["c"] or 0) == (audit["d"] or 0),
        }
        if args.dedup_archive:
            from machine_readability_checker_spark.sources.warcsink import (
                resolve_revisits,
            )

            n_rev = idx.filter(F.col("mime") == "warc/revisit").count()
            n_dangling = (
                resolve_revisits(idx)
                .filter(F.col("filename").isNull())
                .count()
            )
            extra["media_warc"]["revisits"] = n_rev
            extra["media_warc"]["stored_once"] = n_store - n_rev
            extra["media_warc"]["dangling_revisits"] = n_dangling

    _g = (inc_gen,) if inc_gen else ()

    if args.export_interleaved:
        from machine_readability_checker_spark.operators.interleave import (
            interleaved_segments,
            media_refs,
            read_interleaved_shards,
            resolve_media_segments,
            write_interleaved_shards,
        )
        from machine_readability_checker_spark.sources.warcsink import (
            audit_cdxj,
            build_cdxj,
            write_warc_resources,
        )

        seg = interleaved_segments(spans_df).select("doc_id", "segments")
        if args.drop_low_quality_media:
            from machine_readability_checker_spark.operators.interleave import (
                drop_low_quality_media,
            )

            gate_cols = ["doc_id", "media_ref", "width", "height",
                         "decode_error"]
            wh_null = [
                F.lit(None).cast("int").alias("width"),
                F.lit(None).cast("int").alias("height"),
            ]
            # read the feature parquet back (already written above) so
            # the gate reuses the decode pass instead of re-running it
            _f = {
                m: spark.read.parquet(os.path.join(args.out, m))
                for m in ("image", "video", "audio")
            }
            feats = (
                _f["image"].select(*gate_cols)
                .unionByName(_f["video"].select(*gate_cols))
                .unionByName(
                    _f["audio"].select(
                        "doc_id", "media_ref", *wh_null, "decode_error"
                    )
                )
            )
            mw, mh = args.drop_low_quality_media
            seg = drop_low_quality_media(
                seg, feats, min_width=mw, min_height=mh
            )
            extra["low_quality_media_dropped"] = int(
                seg.agg(F.sum("n_media_dropped")).collect()[0][0] or 0
            )
            seg = seg.select("doc_id", "segments")
        if args.drop_frequent_media:
            from machine_readability_checker_spark.operators.interleave import (
                drop_frequent_media,
            )

            media_keys = store.select(
                "doc_id",
                "media_ref",
                F.sha2("content", 256).alias("key"),
            )
            seg = drop_frequent_media(
                seg, media_keys, max_occurrences=args.drop_frequent_media
            )
            extra["frequent_media_dropped"] = int(
                seg.agg(F.sum("n_media_dropped")).collect()[0][0] or 0
            )
            seg = seg.select("doc_id", "segments")
        seg = seg.persist()
        il_dir = os.path.join(args.out, "interleaved", *_g)
        write_interleaved_shards(
            seg, il_dir, n_shards=args.export_interleaved
        ).write.mode("overwrite").parquet(
            os.path.join(args.out, "interleaved_manifest", *_g)
        )
        man = spark.read.parquet(
            os.path.join(args.out, "interleaved_manifest", *_g)
        ).agg(F.sum("n_docs").alias("lines")).collect()[0]
        n_docs = seg.count()

        # media bytes referenced by the segments ride a revisit-
        # deduplicated WARC resource sidecar, CDX-indexed so a loader
        # range-reads single blobs
        refs = seg.select(
            "doc_id", F.explode(media_refs()).alias("media_ref")
        )
        n_media_segs = refs.count()
        distinct_refs = refs.distinct()
        n_refs = distinct_refs.count()
        if n_refs:
            sidecar = distinct_refs.join(
                store, ["doc_id", "media_ref"]
            ).select("doc_id", "media_ref", "content")
            warc_dir = os.path.join(args.out, "interleaved_warc", *_g)
            write_warc_resources(
                sidecar, warc_dir,
                n_shards=args.export_interleaved, dedup=True,
            ).write.mode("overwrite").parquet(
                os.path.join(args.out, "interleaved_warc_manifest", *_g)
            )
            glob = os.path.join(warc_dir, "*.warc.gz")
            idx = build_cdxj(spark, glob)
            audit = audit_cdxj(spark, idx, glob).agg(
                F.sum("n_captures").alias("c"),
                F.sum("n_digest_ok").alias("d"),
            ).collect()[0]

            # consumer-path audit: load the shards back through the JVM
            # reader, resolve every media segment out of the sidecar,
            # and verify the fetched bytes equal the store's
            back = read_interleaved_shards(
                spark, os.path.join(il_dir, "*.jsonl.gz")
            )
            resolved = resolve_media_segments(spark, back, idx, warc_dir)
            loaded_ok = (
                resolved.filter(F.col("error").isNull())
                .join(
                    store.select(
                        "doc_id", "media_ref",
                        F.col("content").alias("_want"),
                    ),
                    ["doc_id", "media_ref"],
                )
                .filter(F.col("content") == F.col("_want"))
                .count()
            )
        else:
            # a fully-filtered corpus has no media to archive: the
            # export is text-only, the sidecar is legitimately absent
            audit = {"c": 0, "d": 0}
            loaded_ok = 0
        seg.unpersist()
        extra["interleaved"] = {
            "docs": n_docs,
            "jsonl_lines": int(man["lines"] or 0),
            "media_segments": n_media_segs,
            "distinct_media_refs": n_refs,
            "cdx_captures": int(audit["c"] or 0),
            "cdx_digest_ok": int(audit["d"] or 0),
            "loaded_byte_ok": loaded_ok,
            "matches": n_docs == (man["lines"] or 0)
            and n_refs
            == (audit["c"] or 0)
            == (audit["d"] or 0)
            == loaded_ok,
        }

    if args.export_pairs:
        from machine_readability_checker_spark.operators.interleave import (
            write_pair_webdataset,
        )
        from machine_readability_checker_spark.operators.multimodal import (
            media_context_pairs,
        )

        mined = media_context_pairs(spans_df)
        caption = F.trim(
            F.when(
                F.col("alt_text").isNotNull() & (F.col("alt_text") != ""),
                F.col("alt_text"),
            ).otherwise(
                F.concat_ws(
                    " ", F.col("context_before"), F.col("context_after")
                )
            )
        )
        pairs = (
            mined.join(store, ["doc_id", "media_ref"])
            .select(
                F.concat_ws(
                    "#", "doc_id", "media_ref",
                    F.col("offset").cast("string"),
                ).alias("pair_id"),
                caption.alias("caption"),
                "content",
                "doc_id",
                "media_ref",
                "offset",
            )
            .filter(F.col("caption") != "")
        )
        n_pairs = pairs.count()
        pair_stats = {}
        if args.min_pair_score is not None:
            from machine_readability_checker_spark.operators import (
                pairscore as PS,
            )

            scored = PS.score_pairs(
                PS.stub_media_vectors(
                    PS.hashed_text_vectors(pairs, text_col="caption"),
                    bytes_col="content",
                )
            )
            pairs = PS.filter_pairs(
                scored, args.min_pair_score
            ).drop("text_vec", "media_vec", "pair_score")
            n_kept = pairs.count()
            pair_stats = {
                "pairs_scored": n_pairs,
                "pairs_below_score": n_pairs - n_kept,
            }
            n_pairs = n_kept
        write_pair_webdataset(
            pairs, os.path.join(args.out, "pairs", *_g),
            n_shards=args.export_pairs,
        ).write.mode("overwrite").parquet(
            os.path.join(args.out, "pairs_manifest", *_g)
        )
        pm = spark.read.parquet(
            os.path.join(args.out, "pairs_manifest", *_g)
        ).agg(F.sum("n_pairs").alias("n")).collect()[0]
        extra["pairs"] = {
            "mined": n_pairs,
            "tar_samples": int(pm["n"] or 0),
            "matches": n_pairs == (pm["n"] or 0),
            **pair_stats,
        }

    if args.export_webdataset:
        from machine_readability_checker_spark.operators.interleave import (
            interleaved_segments as _il_segments,
            media_refs as _il_media_refs,
            write_interleaved_webdataset,
        )

        seg = _il_segments(spans_df).select("doc_id", "segments")
        write_interleaved_webdataset(
            seg,
            store.select("doc_id", "media_ref", "content"),
            os.path.join(args.out, "webdataset", *_g),
            n_shards=args.export_webdataset,
        ).write.mode("overwrite").parquet(
            os.path.join(args.out, "webdataset_manifest", *_g)
        )
        wm = spark.read.parquet(
            os.path.join(args.out, "webdataset_manifest", *_g)
        ).agg(
            F.sum("n_docs").alias("d"), F.sum("n_media").alias("m")
        ).collect()[0]
        n_docs = seg.count()
        n_media_segs = seg.select(
            F.explode(_il_media_refs()).alias("r")
        ).count()
        extra["webdataset"] = {
            "docs": n_docs,
            "tar_docs": int(wm["d"] or 0),
            "media_segments": n_media_segs,
            "tar_media_members": int(wm["m"] or 0),
            "matches": n_docs == (wm["d"] or 0)
            and n_media_segs == (wm["m"] or 0),
        }

    if args.strip_exif:
        from machine_readability_checker_spark.operators.exifscan import (
            scan_exif,
            strip_metadata,
        )

        scan = scan_exif(joined, id_cols=("doc_id", "media_ref"))
        scan.write.mode("overwrite").parquet(
            os.path.join(args.out, "exif_report")
        )
        strip_metadata(joined).write.mode("overwrite").parquet(
            os.path.join(args.out, "scrubbed")
        )
        rep = spark.read.parquet(os.path.join(args.out, "exif_report"))
        agg = rep.agg(
            F.sum(F.col("has_exif").cast("int")).alias("exif"),
            F.sum(F.col("has_gps").cast("int")).alias("gps"),
        ).collect()[0]
        scrub = spark.read.parquet(os.path.join(args.out, "scrubbed"))
        extra["exif"] = {
            "blobs_with_exif": int(agg["exif"] or 0),
            "blobs_with_gps": int(agg["gps"] or 0),
            "bytes_removed": int(
                scrub.agg(F.sum("bytes_removed")).collect()[0][0] or 0
            ),
        }

    joined.unpersist()
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "media_blobs": total,
                "quarantined": quarantined,
                "per_modality": stats,
                **extra,
                "wall_sec": round(wall, 3),
                "blobs_per_sec": round(total / wall, 1) if wall else None,
                "cores": args.cores,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
