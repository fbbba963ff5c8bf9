"""spark-submit entry point: row-level takedown (DMCA/GDPR/opt-out).

The corpus-operations job the 10^12-document target needs monthly:

    Iceberg-layout table → DELETE WHERE <predicate> (merge-on-read
    equality-delete file + new snapshot; pre-delete snapshots still
    time-travel)
      → optional --purge: expire pre-delete snapshots, physically
        rewrite ONLY the affected splits (crash-safe .old swaps), GC
        unreferenced delete files
      → optional index propagation: partition-pruned rewrites of the
        MinHash band / BM25 bucket / IVF cell directories that contain
        purged ids (BM25 score sidecars corrected to exact-rebuild
        equality)
      → one JSON stats line with a post-takedown AUDIT: the table and
        every given index are re-probed for the purged ids; the job
        exits non-zero if any survive.

Usage:
    spark-submit --master local[32] --py-files dist/engine.zip \\
        jobs/takedown.py --table /data/corpus \\
        --where "doc_id IN ('dmca-1','dmca-2')" \\
        --purge --minhash-index /data/idx/minhash --bm25-index /data/idx/bm25
    spark-submit ... jobs/takedown.py --gen 200 --table /tmp/td_demo \\
        --where "doc_id LIKE '%7'" --purge
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from machine_readability_checker_spark.operators import (  # noqa: E402
    bm25 as BM,
    dedup as D,
    takedown as TD,
)
from machine_readability_checker_spark.operators.repartition import (  # noqa: E402
    split_id,
)
from machine_readability_checker_spark.session import (  # noqa: E402
    default_cores,
    get_spark,
)
from machine_readability_checker_spark.sources.iceberg_table import (  # noqa: E402
    IcebergLayoutTable,
    TableMaintenance,
)


def _gen_demo(spark, table: IcebergLayoutTable, n: int, args) -> None:
    """Deterministic demo corpus: (doc_id, lang, text) committed as a
    4-split table, plus MinHash/BM25 indexes over the same text when
    index paths are given — the end-to-end verify surface."""
    docs = (
        spark.range(n)
        .select(
            F.concat(F.lit("doc"), F.col("id").cast("string")).alias("doc_id"),
            F.element_at(
                F.array(F.lit("en"), F.lit("ja"), F.lit("de")),
                (F.col("id") % 3 + 1).cast("int"),
            ).alias("lang"),
            F.concat(
                F.lit("shared corpus words plus unique token u"),
                F.col("id").cast("string"),
                F.lit(" and filler text for retrieval"),
            ).alias("text"),
        )
        .withColumn("split", split_id("doc_id", 4))
    )
    docs.repartition("split").write.partitionBy("split").mode(
        "overwrite"
    ).parquet(table.store.data_dir)
    for r in docs.groupBy("split").agg(F.count("*").alias("c")).collect():
        table.store.commit_split(int(r["split"]), {"docs": int(r["c"])})
    table.commit_snapshot(schema_json='{"doc_id":"string"}')
    text = spark.read.parquet(table.store.data_dir)
    if args.minhash_index:
        D.write_minhash_index(
            text, args.minhash_index, num_perm=16, bands=4, n_buckets=4
        )
    if args.bm25_index:
        BM.write_bm25_index(
            BM.bm25_build(text), args.bm25_index, n_buckets=8
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True, help="Iceberg-layout table root")
    ap.add_argument(
        "--where", required=True,
        help="SQL predicate selecting the rows to take down",
    )
    ap.add_argument("--key", default="doc_id", help="delete key column")
    ap.add_argument(
        "--purge", action="store_true",
        help="after the delete: expire pre-delete snapshots, physically "
        "rewrite affected splits, GC unreferenced delete files (the "
        "bytes actually leave disk)",
    )
    ap.add_argument("--minhash-index", help="write_minhash_index layout to purge")
    ap.add_argument("--bm25-index", help="write_bm25_index layout to purge")
    ap.add_argument("--ivf-index", help="write_ivf_index layout to purge")
    ap.add_argument("--ivf-id-col", default="vec_id")
    ap.add_argument(
        "--gen", type=int, default=0,
        help="build a deterministic demo table (+indexes at the given "
        "paths) first — the self-contained verify surface",
    )
    ap.add_argument("--cores", type=int,
                    default=int(default_cores()))
    args = ap.parse_args()

    t0 = time.time()
    spark = get_spark(
        "mrc-takedown", master=f"local[{args.cores}]",
        shuffle_partitions=max(8, args.cores),
    )
    spark.sparkContext.setLogLevel("ERROR")
    table = IcebergLayoutTable(args.table)
    if args.gen:
        _gen_demo(spark, table, args.gen, args)

    stats = TD.takedown(
        spark, table, args.where, key_col=args.key,
        minhash_index=args.minhash_index,
        bm25_index=args.bm25_index,
        ivf_index=args.ivf_index,
        ivf_id_col=args.ivf_id_col,
    )
    delete_id = None
    cur = table.current_snapshot()
    if cur and cur.get("deletes"):
        delete_id = cur["deletes"][-1]["id"]
        # MATERIALIZE before --purge GCs the delete file the plan reads
        # (takedown-sized: thousands of keys, never the corpus)
        key_rows = (
            spark.read.parquet(
                os.path.join(table.delete_dir, f"d{delete_id}")
            )
            .select(args.key)
            .collect()
        )
        ids = spark.createDataFrame(
            [(r[args.key],) for r in key_rows] or [(None,)],
            f"{args.key} string",
        ).filter(F.col(args.key).isNotNull())
    else:
        ids = None

    if args.purge:
        maint = TableMaintenance(table)
        maint.expire_snapshots(keep_last=1)
        purged = maint.purge_deleted(spark)
        maint.expire_snapshots(keep_last=1)
        purged["delete_files_removed"] += maint.gc_delete_files()
        stats["purged"] = purged

    # ---- post-takedown audit: re-probe every surface for survivors
    audit = {}
    if ids is not None:
        audit["table_clean"] = (
            table.read(spark).join(
                ids.withColumnRenamed(args.key, args.key), args.key,
                "left_semi",
            ).count() == 0
        )
        if args.purge:
            audit["raw_bytes_clean"] = (
                spark.read.parquet(table.store.data_dir)
                .join(ids, args.key, "left_semi").count() == 0
            )
        for name, path, col in (
            ("minhash_clean", args.minhash_index, args.key),
            ("bm25_clean", args.bm25_index, args.key),
            ("ivf_clean", args.ivf_index, args.ivf_id_col),
        ):
            if path:
                audit[name] = (
                    spark.read.parquet(path)
                    .join(
                        ids.withColumnRenamed(args.key, col), col,
                        "left_semi",
                    ).count() == 0
                )
    else:
        audit["table_clean"] = True  # nothing matched: nothing to purge
    stats["audit"] = audit
    stats["wall_sec"] = round(time.time() - t0, 2)
    print(json.dumps(stats))
    spark.stop()
    if not all(audit.values()):
        sys.exit(2)


if __name__ == "__main__":
    main()
