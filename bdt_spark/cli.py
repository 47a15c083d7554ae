"""CLI — the reference's command surface (src/bin/main.rs:27-99).

Subcommands mirror bdt v0.18.0 one-for-one:
  view, schema, count, query, convert, view-parquet-meta, compare

`python -m bdt_spark.cli <subcommand> ...`

Errors print to stderr and exit 1 (the reference exits -1, main.rs:102-108;
1 is the POSIX-conventional equivalent).
"""

from __future__ import annotations

import argparse
import sys

from bdt_spark.session import get_spark
from bdt_spark.sources.io import (
    read_file,
    register_dir,
    register_table,
    table_name_from_path,
)


def cmd_view(args) -> None:
    # main.rs:30-36, 114-127: default limit 10; --limit 0 = everything
    spark = get_spark("bdt_view")
    df = read_file(spark, args.table)
    n = args.limit if args.limit > 0 else df.count()
    df.show(n, truncate=False)


def cmd_schema(args) -> None:
    # main.rs:37-41, 128-135 (information_schema.columns equivalent)
    spark = get_spark("bdt_schema")
    df = read_file(spark, args.table)
    rows = [(f.name, f.dataType.simpleString(), "YES" if f.nullable else "NO")
            for f in df.schema.fields]
    w = max(len(r[0]) for r in rows)
    print(f"{'column_name':<{w}}  {'data_type':<20}  is_nullable")
    for name, typ, nullable in rows:
        print(f"{name:<{w}}  {typ:<20}  {nullable}")


def cmd_count(args) -> None:
    # main.rs:55-59, 226-232
    spark = get_spark("bdt_count")
    df = read_file(spark, args.table)
    print(df.count())


def cmd_query(args) -> None:
    # main.rs:60-81, 146-225
    spark = get_spark("bdt_query")

    def announce(name: str, path: str) -> None:
        # main.rs:163,174 — the README's documented registration lines
        print(f"Registering table '{name}' for {path}")

    if args.tables_dir:
        register_dir(spark, args.tables_dir, announce=announce)
    for path in args.table or []:
        name = table_name_from_path(path)
        announce(name, path)
        register_table(spark, name, path)
    if args.sql and args.sql_file:
        raise SystemExit("provide either --sql or --sql-file, not both")
    if args.sql_file:
        with open(args.sql_file) as f:
            sql = f.read()
    elif args.sql:
        sql = args.sql
    else:
        raise SystemExit("no SQL provided (--sql or --sql-file)")
    df = spark.sql(sql)
    if args.verbose:
        df.explain()  # main.rs:183-186
    if args.output:
        # csv and parquet only, like main.rs:188-221
        from bdt_spark.operators.convert import UnsupportedOutputError, write_file
        from bdt_spark.sources.io import file_format

        if file_format(args.output) not in ("csv", "parquet"):
            raise UnsupportedOutputError(
                f"unsupported output format: {args.output!r}"
            )
        write_file(df, args.output, single_file=True)
    else:
        df.show(truncate=False)


def cmd_convert(args) -> None:
    # main.rs:42-54 -> convert.rs
    from bdt_spark.operators.convert import convert

    spark = get_spark("bdt_convert")
    convert(
        spark,
        args.input,
        args.output,
        single_file=args.single_file,
        zstd=args.zstd,
    )


def cmd_meta(args) -> None:
    # main.rs:82-86 -> parquet.rs
    from bdt_spark.operators.meta import format_parquet_meta, read_parquet_meta

    print(format_parquet_meta(read_parquet_meta(args.table)))


def cmd_compare(args) -> None:
    # main.rs:87-99 -> compare.rs
    from bdt_spark.operators.compare import compare_files

    # session only when the (possibly auto-gated) hash mode needs one —
    # compare_files creates it lazily itself
    spark = get_spark("bdt_compare") if args.method == "hash" else None
    res = compare_files(
        spark,
        args.file1,
        args.file2,
        epsilon=args.epsilon,
        header=not args.no_header_row,
        method=args.method,
    )
    print(res.message)
    if not res.ok:
        raise SystemExit(1)


def cmd_dedup(args) -> None:
    # extension beyond the reference: dedup any table from the CLI
    from bdt_spark.operators.dedup import (
        embedding_neardup_pairs,
        exact_dup_groups,
        minhash_pairs,
    )

    spark = get_spark("bdt_dedup")
    if args.compact_state:
        # state lifecycle maintenance: no table read, no probe
        from bdt_spark.operators.dedup import (
            compact_embedding_state,
            compact_minhash_state,
        )

        if not args.state_dir:
            raise SystemExit("--compact-state requires --state-dir")
        if args.method == "exact":
            raise SystemExit(
                "--compact-state supports --method minhash|embedding"
            )
        fold = (
            compact_embedding_state
            if args.method == "embedding"
            else compact_minhash_state
        )
        cid = fold(spark, args.state_dir)
        print(f"state compacted: batch={cid}")
        return
    if not args.table:
        raise SystemExit("--table is required (except with --compact-state)")
    df = read_file(spark, args.table)
    if args.state_dir:
        # incremental mode: the table is an ingest BATCH probed against
        # the persisted corpus state (exact mode has its own snapshot
        # query shape; the CLI exposes the minhash/embedding states)
        import os as _os

        from bdt_spark.operators.dedup import (
            incremental_embedding_candidates,
            incremental_minhash_candidates,
            update_embedding_state,
            update_minhash_state,
        )

        if args.method == "exact":
            raise SystemExit(
                "--state-dir supports --method minhash|embedding"
            )
        has_state = _os.path.isdir(args.state_dir)
        if args.method == "embedding":
            out = (
                incremental_embedding_candidates(
                    spark, args.state_dir, df,
                    id_col=args.id_col, emb_col=args.embedding_col,
                    dim=args.embedding_dim,
                    threshold=0.9 if args.threshold is None else args.threshold,
                )
                if has_state
                else None
            )
        else:
            out = (
                incremental_minhash_candidates(
                    spark, args.state_dir, df,
                    id_col=args.id_col, text_col=args.text_col,
                    threshold=0.5 if args.threshold is None else args.threshold,
                    k_hash=args.minhash_k, n_bands=args.minhash_bands,
                )
                if has_state
                else None
            )
        if out is not None:
            if args.output:
                out.write.mode("overwrite").parquet(args.output)
                n_rows = spark.read.parquet(args.output).count()
                print(f"wrote {n_rows} rows to {args.output}")
            else:
                out.show(50, truncate=False)
        else:
            print("no existing state: skipping probe")
        if args.update_state:
            upd = (
                update_embedding_state
                if args.method == "embedding"
                else update_minhash_state
            )
            kw = (
                {"emb_col": args.embedding_col, "dim": args.embedding_dim}
                if args.method == "embedding"
                else {"text_col": args.text_col}
            )
            bid = upd(
                spark, args.state_dir, df, id_col=args.id_col,
                batch_id=args.batch_id, **kw,
            )
            print(f"state updated: batch={bid}")
        return
    if args.method == "exact":
        cols = args.columns.split(",") if args.columns else [
            c for c in df.columns if c != args.id_col
        ]
        out = exact_dup_groups(df, cols, args.id_col)
    elif args.method == "embedding":
        out = embedding_neardup_pairs(
            df,
            id_col=args.id_col,
            emb_col=args.embedding_col,
            dim=args.embedding_dim,
            threshold=0.9 if args.threshold is None else args.threshold,
        )
    else:
        out = minhash_pairs(
            df,
            id_col=args.id_col,
            text_col=args.text_col,
            threshold=0.5 if args.threshold is None else args.threshold,
            k_hash=args.minhash_k,
            n_bands=args.minhash_bands,
        )
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        # count the WRITTEN parquet (metadata-backed), not the pipeline —
        # out.count() would re-execute the whole job a second time
        n_rows = spark.read.parquet(args.output).count()
        print(f"wrote {n_rows} rows to {args.output}")
    else:
        out.show(50, truncate=False)


def cmd_stream_dedup(args) -> None:
    # extension: streaming incremental near-dup ingest over a watched
    # parquet directory (VERDICT r14 #6). Drains every available file
    # via trigger(availableNow), then exits — re-invoking with the same
    # --checkpoint-dir processes only NEW files, and the sinks'
    # batch-keyed dynamic partition overwrites make redelivery
    # converge (exactly-once state and matches; see
    # streaming/windows.neardup_stream_to_state). The CLI stays a thin
    # shell over the library sinks, the reference's library-first
    # split (Cargo.toml:12-18).
    import os as _os

    from bdt_spark.streaming.windows import (
        embedding_neardup_stream_to_state,
        neardup_stream_to_state,
    )

    spark = get_spark("bdt_stream_dedup")
    # file streams need a declared schema: take it from the files
    # already in the source dir (a metadata-only batch read; the source
    # is a parquet DIRECTORY, so no extension dispatch)
    schema = spark.read.parquet(args.source).schema
    reader = spark.readStream.schema(schema)
    if args.max_files_per_trigger:
        reader = reader.option(
            "maxFilesPerTrigger", args.max_files_per_trigger
        )
    stream = reader.parquet(args.source)
    if args.method == "embedding":
        q = embedding_neardup_stream_to_state(
            stream, args.state_dir, args.matches_dir, args.checkpoint_dir,
            id_col=args.id_col, emb_col=args.embedding_col,
            dim=args.embedding_dim,
            threshold=0.9 if args.threshold is None else args.threshold,
        )
    else:
        q = neardup_stream_to_state(
            stream, args.state_dir, args.matches_dir, args.checkpoint_dir,
            id_col=args.id_col, text_col=args.text_col,
            threshold=0.5 if args.threshold is None else args.threshold,
        )
    q.awaitTermination()
    n = (
        spark.read.parquet(args.matches_dir).count()
        if _os.path.isdir(args.matches_dir)
        else 0
    )
    print(f"stream drained: {n} match rows in {args.matches_dir}")


def cmd_stream_ann(args) -> None:
    # extension: streaming IVF ingest (drain-available), the vector
    # analog of stream-dedup — the index must already exist (ann-build)
    from bdt_spark.streaming.windows import ann_stream_to_index

    spark = get_spark("bdt_stream_ann")
    schema = spark.read.parquet(args.source).schema
    reader = spark.readStream.schema(schema)
    if args.max_files_per_trigger:
        reader = reader.option(
            "maxFilesPerTrigger", args.max_files_per_trigger
        )
    q = ann_stream_to_index(
        reader.parquet(args.source), args.index_dir, args.checkpoint_dir,
        id_col=args.id_col, vec_col=args.vec_col,
        skew_threshold=args.skew_threshold,
    )
    q.awaitTermination()
    from bdt_spark.operators.ann import ivf_index_stats

    stats = ivf_index_stats(args.index_dir, skew_threshold=args.skew_threshold)
    print(
        f"stream drained: index skew={stats['skew']:.2f}"
        + (" RECLUSTER RECOMMENDED" if stats["recluster_recommended"] else "")
    )


def cmd_cluster_write(args) -> None:
    # extension: range-clustered sorted parquet (row-group skipping layout)
    from bdt_spark.operators.layout import write_clustered

    spark = get_spark("bdt_cluster_write")
    df = read_file(spark, args.input)
    write_clustered(
        df,
        args.output,
        args.by.split(","),
        num_partitions=args.partitions,
        bloom_filter_cols=args.bloom.split(",") if args.bloom else None,
        bloom_expected_ndv=args.bloom_ndv,
    )
    n_rows = spark.read.parquet(args.output).count()  # metadata-backed
    print(f"clustered {n_rows} rows by {args.by} into {args.output}")


def cmd_upsert(args) -> None:
    # extension: keyed merge of a delta file into a table. Local paths use
    # the rewrite-and-swap; --versioned uses the manifest-commit protocol
    # (operators/versioned.py), which is also the object-store-safe path.
    spark = get_spark("bdt_upsert")
    delta = read_file(spark, args.delta)
    keys = args.keys.split(",")
    if args.versioned:
        from bdt_spark.operators.versioned import (
            current_version,
            merge_upsert_versioned,
            write_versioned,
        )

        if current_version(spark, args.table) is None:
            from bdt_spark.operators.upsert import validate_unique_keys

            validate_unique_keys(delta, keys)
            v = write_versioned(spark, args.table, delta)
            print(f"initialized versioned table {args.table} at v{v}")
        else:
            v = merge_upsert_versioned(spark, args.table, delta, keys)
            print(f"committed version v{v} of {args.table}")
    else:
        import os as _os

        from bdt_spark.operators.upsert import merge_upsert, validate_unique_keys

        if not _os.path.exists(args.table):
            # first use: initialize, like the versioned branch above and
            # the streaming writeback do — but still enforce the
            # one-row-per-key invariant the merges assume
            validate_unique_keys(delta, keys)
            delta.write.parquet(args.table)
            n = spark.read.parquet(args.table).count()
            print(f"initialized table {args.table} with {n} rows")
        else:
            n = merge_upsert(spark, args.table, delta, keys)
            print(f"table {args.table} now has {n} rows")


def cmd_vacuum(args) -> None:
    from bdt_spark.operators.versioned import vacuum_versions

    spark = get_spark("bdt_vacuum")
    removed = vacuum_versions(spark, args.table, keep_last=args.keep_last)
    print(f"removed versions: {removed or 'none'}")


def cmd_ann_build(args) -> None:
    # extension: persistent IVF ANN index
    from bdt_spark.operators.ann import build_ivf_index

    spark = get_spark("bdt_ann")
    emb = read_file(spark, args.embeddings)
    build_ivf_index(
        spark, emb, args.index_dir, k=args.k,
        id_col=args.id_col, vec_col=args.vec_col,
    )
    print(f"built IVF index (k={args.k}) at {args.index_dir}")


def cmd_ann_update(args) -> None:
    # extension: incremental IVF maintenance (VERDICT r14 #3)
    from bdt_spark.operators.ann import update_ivf_index

    spark = get_spark("bdt_ann")
    batch = read_file(spark, args.batch)
    stats: dict = {}
    bid = update_ivf_index(
        spark, args.index_dir, batch, batch_id=args.batch_id,
        id_col=args.id_col, vec_col=args.vec_col, stats=stats,
        skew_threshold=args.skew_threshold,
    )
    print(
        f"index updated: batch={bid} assigned={stats['assigned']} "
        f"skew={stats['skew']:.2f}"
        + (" RECLUSTER RECOMMENDED" if stats["recluster_recommended"] else "")
    )


def cmd_ann_compact(args) -> None:
    from bdt_spark.operators.ann import compact_ivf_index

    spark = get_spark("bdt_ann")
    folded = compact_ivf_index(spark, args.index_dir)
    print(f"compacted {folded} increment batch(es) into the base layout")


def cmd_ann_stats(args) -> None:
    from bdt_spark.operators.ann import ivf_index_stats

    stats = ivf_index_stats(args.index_dir, skew_threshold=args.skew_threshold)
    for cid in sorted(stats["cluster_counts"]):
        print(f"cluster_id={cid}\t{stats['cluster_counts'][cid]} rows")
    print(
        f"skew={stats['skew']:.2f} (threshold {stats['skew_threshold']})"
        + (" RECLUSTER RECOMMENDED" if stats["recluster_recommended"] else "")
    )


def cmd_ann_probe(args) -> None:
    from bdt_spark.operators.ann import ivf_probe
    from bdt_spark.operators.cacheutil import release

    spark = get_spark("bdt_ann")
    queries = read_file(spark, args.queries)
    out = ivf_probe(
        spark, args.index_dir, queries, topk=args.topk, nprobe=args.nprobe,
        id_col=args.id_col, vec_col=args.vec_col,
    )
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        # count the WRITTEN parquet (metadata-backed), not the pipeline —
        # out.count() would re-execute the whole job a second time
        n_rows = spark.read.parquet(args.output).count()
        print(f"wrote {n_rows} rows to {args.output}")
    else:
        out.show(50, truncate=False)
    release(out)  # drop the probe table ivf_probe persisted internally


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="bdt_spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    v = sub.add_parser("view", help="view a file's first rows")
    v.add_argument("table")
    v.add_argument("--limit", type=int, default=10)
    v.set_defaults(fn=cmd_view)

    s = sub.add_parser("schema", help="view a file's schema")
    s.add_argument("table")
    s.set_defaults(fn=cmd_schema)

    c = sub.add_parser("count", help="count rows in a file")
    c.add_argument("--table", dest="table", required=True)
    c.set_defaults(fn=cmd_count)

    q = sub.add_parser("query", help="run SQL against registered files")
    q.add_argument("--table", action="append")
    q.add_argument("--tables", dest="tables_dir")
    q.add_argument("--sql")
    q.add_argument("--sql-file")
    q.add_argument("--output")
    q.add_argument("--verbose", action="store_true")
    q.set_defaults(fn=cmd_query)

    cv = sub.add_parser("convert", help="convert between file formats")
    cv.add_argument("input")
    cv.add_argument("output")
    cv.add_argument("-s", "--single-file", action="store_true")
    cv.add_argument("-z", "--zstd", action="store_true")
    cv.set_defaults(fn=cmd_convert)

    m = sub.add_parser("view-parquet-meta", help="print parquet footer metadata")
    m.add_argument("table")
    m.set_defaults(fn=cmd_meta)

    cp = sub.add_parser("compare", help="compare two files")
    cp.add_argument("file1")
    cp.add_argument("file2")
    cp.add_argument("-e", "--epsilon", type=float, default=None)
    cp.add_argument("-n", "--no-header-row", action="store_true")
    cp.add_argument("--method", choices=["auto", "positional", "hash"],
                    default="auto")
    cp.set_defaults(fn=cmd_compare)

    # --- extensions beyond the reference surface ---
    dd = sub.add_parser("dedup", help="find duplicate rows / near-dup text")
    dd.add_argument(
        "--table",
        help="input table (required except with --compact-state)",
    )
    dd.add_argument(
        "--method", choices=["exact", "minhash", "embedding"], default="exact"
    )
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--text-col", default="text")
    dd.add_argument(
        "--embedding-col", default="embedding",
        help="array<float> column for --method embedding (sign-LSH near-dup)",
    )
    dd.add_argument(
        "--embedding-dim", type=int, default=64,
        help="embedding dimensionality (the sparse-plane/dot SQL is "
        "unrolled for exactly this length)",
    )
    dd.add_argument("--columns", help="comma list for exact dedup key")
    dd.add_argument(
        "--threshold", type=float, default=None,
        help="verification threshold: Jaccard for minhash (default 0.5), "
        "cosine for embedding (default 0.9)",
    )
    dd.add_argument(
        "--minhash-k", type=int, default=8,
        help="minhash signature length (multiple of 4; 64-128 for "
        "production-tight Jaccard estimates)",
    )
    dd.add_argument(
        "--minhash-bands", type=int, default=4,
        help="LSH bands (must divide --minhash-k; rows per band = k/bands)",
    )
    dd.add_argument(
        "--state-dir", default=None,
        help="incremental mode: probe --table (an ingest batch) against "
        "the persisted corpus state in this directory instead of "
        "self-deduping it (minhash: band-bucket signatures; embedding: "
        "sign-LSH bucket index)",
    )
    dd.add_argument(
        "--update-state", action="store_true",
        help="with --state-dir: fold the batch into the state after the "
        "probe (replay-idempotent per --batch-id)",
    )
    dd.add_argument(
        "--batch-id", default=None,
        help="with --update-state: stable id for replay idempotence "
        "(default: random)",
    )
    dd.add_argument(
        "--compact-state", action="store_true",
        help="with --state-dir: fold all batch partitions into one "
        "(latest-batch-wins per id) and exit — no table read, no probe",
    )
    dd.add_argument("--output")
    dd.set_defaults(fn=cmd_dedup)

    cw = sub.add_parser(
        "cluster-write", help="write range-clustered sorted parquet"
    )
    cw.add_argument("input")
    cw.add_argument("output")
    cw.add_argument("--by", required=True, help="comma list of cluster cols")
    cw.add_argument("--partitions", type=int, default=None)
    cw.add_argument(
        "--bloom", help="comma list of point-lookup cols to bloom-filter"
    )
    cw.add_argument("--bloom-ndv", type=int, default=None)
    cw.set_defaults(fn=cmd_cluster_write)

    up = sub.add_parser("upsert", help="keyed merge of a delta into a table")
    up.add_argument("table", help="base table dir (or versioned table root)")
    up.add_argument("delta", help="file with new/updated rows")
    up.add_argument("--keys", required=True, help="comma list of key cols")
    up.add_argument(
        "--versioned",
        action="store_true",
        help="manifest-commit protocol (object-store-safe, snapshot reads)",
    )
    up.set_defaults(fn=cmd_upsert)

    vc = sub.add_parser("vacuum", help="reclaim old versioned-table versions")
    vc.add_argument("table", help="versioned table root")
    vc.add_argument("--keep-last", type=int, default=2)
    vc.set_defaults(fn=cmd_vacuum)

    sd = sub.add_parser(
        "stream-dedup",
        help="streaming incremental near-dup ingest: drain a watched "
        "parquet dir through the minhash/embedding state sinks, then exit",
    )
    sd.add_argument(
        "--source", required=True,
        help="parquet directory consumed as a file stream (re-invoke with "
        "the same --checkpoint-dir to process only new files)",
    )
    sd.add_argument(
        "--method", choices=["minhash", "embedding"], default="minhash"
    )
    sd.add_argument("--state-dir", required=True)
    sd.add_argument("--matches-dir", required=True)
    sd.add_argument("--checkpoint-dir", required=True)
    sd.add_argument("--id-col", default="doc_id")
    sd.add_argument("--text-col", default="text")
    sd.add_argument("--embedding-col", default="embedding")
    sd.add_argument("--embedding-dim", type=int, default=64)
    sd.add_argument(
        "--threshold", type=float, default=None,
        help="Jaccard for minhash (default 0.5), cosine for embedding "
        "(default 0.9)",
    )
    sd.add_argument(
        "--max-files-per-trigger", type=int, default=None,
        help="micro-batch size in files (default: all available in one)",
    )
    sd.set_defaults(fn=cmd_stream_dedup)

    ab = sub.add_parser("ann-build", help="build a persistent IVF ANN index")
    ab.add_argument("embeddings")
    ab.add_argument("index_dir")
    ab.add_argument("-k", type=int, default=10)
    ab.add_argument("--id-col", default="vec_id")
    ab.add_argument("--vec-col", default="embedding")
    ab.set_defaults(fn=cmd_ann_build)

    sa = sub.add_parser(
        "stream-ann",
        help="streaming IVF ingest: drain a watched parquet dir of "
        "vectors into an existing index, then exit",
    )
    sa.add_argument("--source", required=True)
    sa.add_argument("--index-dir", required=True)
    sa.add_argument("--checkpoint-dir", required=True)
    sa.add_argument("--id-col", default="vec_id")
    sa.add_argument("--vec-col", default="embedding")
    sa.add_argument("--skew-threshold", type=float, default=4.0)
    sa.add_argument("--max-files-per-trigger", type=int, default=None)
    sa.set_defaults(fn=cmd_stream_ann)

    au = sub.add_parser(
        "ann-update",
        help="fold a new vector batch into an IVF index (no retrain)",
    )
    au.add_argument("index_dir")
    au.add_argument("batch", help="file of new vectors to ingest")
    au.add_argument("--batch-id", default=None,
                    help="stable id for replay idempotence (default: random)")
    au.add_argument("--id-col", default="vec_id")
    au.add_argument("--vec-col", default="embedding")
    au.add_argument("--skew-threshold", type=float, default=4.0)
    au.set_defaults(fn=cmd_ann_update)

    ac = sub.add_parser(
        "ann-compact",
        help="fold IVF increments back into the cluster-local base layout",
    )
    ac.add_argument("index_dir")
    ac.set_defaults(fn=cmd_ann_compact)

    an = sub.add_parser(
        "ann-stats", help="per-cluster counts + skew of an IVF index"
    )
    an.add_argument("index_dir")
    an.add_argument("--skew-threshold", type=float, default=4.0)
    an.set_defaults(fn=cmd_ann_stats)

    ap = sub.add_parser("ann-probe", help="probe an IVF ANN index")
    ap.add_argument("index_dir")
    ap.add_argument("queries")
    ap.add_argument("--topk", type=int, default=5)
    ap.add_argument("--nprobe", type=int, default=2)
    ap.add_argument("--id-col", default="vec_id")
    ap.add_argument("--vec-col", default="embedding")
    ap.add_argument("--output")
    ap.set_defaults(fn=cmd_ann_probe)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    try:
        args.fn(args)
    except SystemExit:
        raise
    except Exception as e:  # error surface: main.rs:102-108
        print(f"Error: {e}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
