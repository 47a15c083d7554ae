"""End-to-end demo of the bdt_spark library API on the sf0.001 fixtures.

Run: python examples/pipeline_demo.py [sf_dir]

Walks the main surfaces a reference (bdt) user would touch after
switching — query, convert, compare, parquet metadata — plus the
training-data extensions (dedup, packing, ANN, clustered writes).
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bdt_spark.session import get_spark
from bdt_spark.sources.io import load_fixture_tables, read_file


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("bdt_spark_demo")
    tables = load_fixture_tables(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="bdt_demo_")

    print("== 1. SQL query (the reference's core loop) ==")
    spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS qty
        FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).show()

    print("== 2. Convert + parquet metadata ==")
    from bdt_spark.operators.convert import convert
    from bdt_spark.operators.meta import format_parquet_meta, read_parquet_meta

    convert(spark, f"{sf_dir}/region.parquet", f"{tmp}/region.csv",
            single_file=True)
    print(format_parquet_meta(
        read_parquet_meta(f"{sf_dir}/region.parquet"))[:400], "...\n")

    print("== 3. Compare (distributed hash mode) ==")
    from bdt_spark.operators.compare import compare_files

    print(compare_files(spark, f"{sf_dir}/nation.parquet",
                        f"{sf_dir}/nation.parquet", method="hash"))

    print("\n== 4. Near-dup pairs (MinHash LSH) ==")
    from bdt_spark.operators.dedup import minhash_pairs

    minhash_pairs(tables["documents"]).show(5)

    print("== 4b. Incremental ingest: probe a batch against corpus state ==")
    from bdt_spark.operators.dedup import (
        incremental_minhash_candidates, update_minhash_state,
    )

    docs = tables["documents"].select("doc_id", "text")
    update_minhash_state(spark, f"{tmp}/mh_state",
                         docs.filter("doc_id % 2 = 0"), batch_id="seed")
    incremental_minhash_candidates(
        spark, f"{tmp}/mh_state", docs.filter("doc_id % 2 = 1")).show(5)

    print("== 5. Persistent ANN index ==")
    from bdt_spark.operators.ann import build_ivf_index, ivf_probe

    emb = read_file(spark, f"{sf_dir}/embeddings.parquet")
    build_ivf_index(spark, emb, f"{tmp}/idx", k=5)
    ivf_probe(spark, f"{tmp}/idx", emb.limit(2), topk=3, nprobe=2).show()

    print("== 6. Range-clustered write (row-group skipping layout) ==")
    from bdt_spark.operators.layout import write_clustered

    write_clustered(tables["orders"], f"{tmp}/orders_clustered",
                    ["o_orderdate"], num_partitions=4,
                    bloom_filter_cols=["o_orderkey"])
    print("clustered parquet (+ o_orderkey bloom filters) at",
          f"{tmp}/orders_clustered")

    print("== 7. Versioned table (manifest-commit upsert) ==")
    from bdt_spark.operators.versioned import (
        merge_upsert_versioned, read_versioned, table_versions,
        write_versioned,
    )

    root = f"{tmp}/nation_versioned"
    write_versioned(spark, root, tables["nation"])
    delta = tables["nation"].limit(2).withColumn(
        "n_name", F.upper(F.col("n_name")))
    merge_upsert_versioned(spark, root, delta, ["n_nationkey"])
    print("versions:", table_versions(spark, root),
          "rows:", read_versioned(spark, root).count())

    spark.stop()


if __name__ == "__main__":
    main()
