"""Inflate the driver's sf0.1 testdata to a larger scale for LOCAL
scaling measurements (never for correctness — the oracle only sees the
driver's own SFs, and /root/testdata stays read-only).

Usage: python tools/gen_scale_data.py <src_sf_dir> <out_dir> <factor>

Each table is replicated ``factor`` times with keys shifted per copy so
joins keep their cardinality shape (1 order still has ~4 lineitems, a
customer's orders stay with that customer). Text documents get a per-copy
tag word PREPENDED so copies are not near-duplicates of each other —
without it every pair-generating operator (minhash/ppjoin) would blow up
O(factor²) on cross-copy duplicate pairs and measure the inflation
artifact, not the algorithm. Embeddings perturb one coordinate per copy
deterministically for the same reason. Determinism: pure column
arithmetic on the source rows, no rand().
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from global_seismic_data_pipeline_spark.session import get_spark
from global_seismic_data_pipeline_spark.sources.catalog import load_table

# Each shared key DOMAIN shifts by copy * (1 + max over its OWNING
# table) so copies never collide AND every referencing table shifts by
# the SAME amount — shifting o_custkey by max(o_custkey) while customer
# shifts by max(c_custkey) would desynchronize the FK whenever the
# domain max lives only on the owning side (customers without orders
# exist in this schema).
_KEY_DOMAINS = {
    "orderkey": ("orders", "o_orderkey"),
    "custkey": ("customer", "c_custkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
    "doc_id": ("documents", "doc_id"),
    "vec_id": ("embeddings", "vec_id"),
}
_KEY_SHIFTS = {
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {"l_orderkey": "orderkey"},  # partkey/suppkey: small dims
    "customer": {"c_custkey": "custkey"},
    "events": {"event_id": "event_id", "user_id": "user_id"},
    "documents": {"doc_id": "doc_id"},
    "embeddings": {"vec_id": "vec_id"},
}
# small dimension tables are NOT inflated (real 10x growth grows facts)
_STATIC = ["region", "nation", "part", "supplier"]


def _write_single_file(df, out: str, name: str) -> None:
    """The driver's testdata ships each table as ONE parquet FILE (the
    catalog reads its schema with pyarrow directly); match that shape —
    coalescing a computed DataFrame for a one-off write is fine."""
    import glob
    import shutil

    staging = f"{out}/.__{name}_staging"
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    parts = glob.glob(f"{staging}/part-*.parquet")
    if len(parts) != 1:
        shutil.rmtree(staging)
        raise RuntimeError(
            f"{name}: expected one part file from the coalesced write, "
            f"found {len(parts)}"
        )
    dest = f"{out}/{name}.parquet"
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    os.replace(parts[0], dest)  # also replaces an existing regular file
    shutil.rmtree(staging)


def main() -> None:
    src, out, factor = sys.argv[1], sys.argv[2], int(sys.argv[3])
    spark = get_spark("gen-scale-data")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out, exist_ok=True)
    for name in _STATIC:
        df = load_table(spark, src, name)
        _write_single_file(df, out, name)
        print(f"{name}: copied {df.count()} rows")
    copies = F.explode(F.array(*[F.lit(i) for i in range(factor)])).alias(
        "__copy"
    )
    domain_shift = {
        dom: int(
            load_table(spark, src, tbl)
            .agg(F.max(F.col(col)) + 1)
            .collect()[0][0]
        )
        for dom, (tbl, col) in _KEY_DOMAINS.items()
    }
    for name, keys in _KEY_SHIFTS.items():
        df = load_table(spark, src, name)
        rep = df.select("*", copies)
        for c, dom in keys.items():
            rep = rep.withColumn(
                c, F.col(c) + F.col("__copy") * F.lit(domain_shift[dom])
            )
        if name == "documents":
            rep = rep.withColumn(
                "text",
                F.concat(
                    F.lit("copytag"), F.col("__copy").cast("string"),
                    F.lit(" "), F.col("text"),
                ),
            )
        if name == "embeddings":
            # nudge coordinate 0 by copy * 2^-10: keeps vectors distinct
            # across copies without changing their scale
            rep = rep.withColumn(
                "embedding",
                F.concat(
                    F.array(
                        (
                            F.element_at("embedding", 1)
                            + (F.col("__copy") / F.lit(1024.0)).cast("float")
                        ).cast("float")
                    ),
                    F.slice("embedding", 2, 10_000),
                ),
            )
        _write_single_file(rep.drop("__copy"), out, name)
        print(f"{name}: x{factor}")
    print("done:", out)


if __name__ == "__main__":
    main()
