"""File comparison — `bdt compare` (reference src/compare.rs:10-143).

Two modes:

- `positional` (reference semantics): row-by-row, in file order. The
  reference collects both files fully into driver memory and zips rows
  (compare.rs:116-143, utils.rs:89-209 RowIter); we do the driver-side
  equivalent with pyarrow, but *columnwise/vectorized* instead of
  cell-by-cell Python. Report shape mirrors ComparisonResult
  (compare.rs:72-114): count mismatch, schema-width mismatch, or first
  differing (row, column, left, right).

- `hash` (the 100 TB mode — an improvement the reference lacks): fully
  distributed multiset equality in ONE pass — each side aggregates to
  (md5(row) -> count), the two count maps full-outer join on the hash,
  and one scalar aggregate yields totals plus per-side unmatched counts.
  No driver materialization, no row-order assumption, and one hash
  shuffle per side (the join reuses the aggregation's partitioning)
  instead of the two full `exceptAll` shuffles it replaced. With
  `epsilon`, the mode switches to a distributed EXACT-epsilon sort-zip
  (canonical sort both sides, zip by global index, |l-r| < eps per float
  column) — see _compare_epsilon_sorted; the old round-to-digits
  approximation misclassified boundary-straddling pairs.

Fixes vs the reference (documented, SURVEY §2 compare notes):
- Epsilon compares |l - r| < eps; the reference's `(l - r) < eps` is
  signed (compare.rs:36,40) and passes any negative difference.
- Types beyond the reference's RowIter (timestamps, decimals, nested) are
  supported instead of `todo!()` panicking (utils.rs:193-196).
"""

from __future__ import annotations

import io
from dataclasses import dataclass

from pyspark.sql import SparkSession, Window, functions as F

from bdt_spark.sources.io import (
    _arrow_table_from_bytes,
    _concat_parts,
    _local_path,
    _part_files,
    _path_bytes,
    file_format,
    read_file,
)


@dataclass
class ComparisonResult:
    ok: bool
    message: str
    # "positional" | "hash" — stamped by compare_files so programmatic
    # callers can detect which semantics actually ran (the auto gate
    # switches to order-INSENSITIVE hash mode above _POSITIONAL_MAX_BYTES
    # and previously said so only on stderr — ADVICE r14)
    method: str = ""

    def __str__(self) -> str:  # CLI-friendly, mirrors compare.rs:92-113
        return self.message


def _read_arrow_table(path: str, header: bool = True):
    """The whole file as one Arrow table. A directory reads its Spark
    part files in partition order: csv and json parts as one
    concatenated byte stream (each later csv part's header dropped), so
    they parse exactly as the single-file output would; orc and arrow
    parts one by one. Parquet reads a directory natively."""
    import os

    import pyarrow as pa

    fmt = file_format(path)
    path = _local_path(path)
    if fmt == "parquet":
        import pyarrow.parquet as pq

        return pq.read_table(path)
    paths = _part_files(path) if os.path.isdir(path) else [path]
    if not paths:
        raise ValueError(f"no part files under {path!r}")
    if fmt == "arrow":
        tables = []
        for p in paths:
            with open(p, "rb") as f:
                tables.append(_arrow_table_from_bytes(f.read()))
        return pa.concat_tables(tables)
    if fmt in ("csv", "json") and len(paths) > 1:
        buf = io.BytesIO()
        _concat_parts(paths, buf, header=fmt == "csv" and header)
        src = pa.BufferReader(buf.getbuffer())
    else:
        src = paths[0]
    if fmt == "csv":
        import pyarrow.csv as pacsv

        opts = pacsv.ReadOptions(autogenerate_column_names=not header)
        return pacsv.read_csv(src, read_options=opts)
    # The reference restricts compare to csv/parquet (compare.rs:121-142);
    # we additionally accept json via pyarrow.
    if fmt == "json":
        import pyarrow.json as pajson

        return pajson.read_json(src)
    if fmt == "orc":
        import pyarrow.orc as po

        return pa.concat_tables([po.read_table(p) for p in paths])
    raise ValueError(f"unsupported format for compare: {path!r}")


def _realign_json_side(path1, side1, path2, side2):
    """The two sides with a JSON side's columns in the other side's order.
    A JSON copy need not list its source's columns in order: Spark's
    writer drops null fields, so a key missing from the first record
    reads last. Both compare modes pair columns by position, so a JSON
    side holding the same names is realigned by name. A side is an Arrow
    table or a DataFrame: both have `schema.names` and `select` a list."""
    cols1, cols2 = side1.schema.names, side2.schema.names
    if cols1 != cols2 and sorted(cols1) == sorted(cols2):
        json1, json2 = file_format(path1) == "json", file_format(path2) == "json"
        if json2 and not json1:
            return side1, side2.select(cols1)
        if json1 and not json2:
            return side1.select(cols2), side2
    return side1, side2


# `method="auto"` switchover: combined on-disk bytes above which the
# driver-side positional mode is replaced by the distributed hash mode.
# The positional mode materializes BOTH files into driver memory
# (reference semantics, compare.rs:116-143) — measured 30 s at sf10
# (~1.3 GB combined) and driver-memory-bound beyond; a caller comparing
# two 1 TB files must never get that mode silently (VERDICT r13 #3).
# 256 MiB keeps every fixture-scale compare (sf0.1: ~13 MB combined) on
# the byte-exact reference path while anything approaching driver-heap
# scale goes distributed. Explicit `method=` always wins.
_POSITIONAL_MAX_BYTES = 256 << 20


def compare_files(
    spark: SparkSession | None,
    path1: str,
    path2: str,
    *,
    epsilon: float | None = None,
    header: bool = True,
    method: str = "auto",
) -> ComparisonResult:
    """Compare two files. `method`: "positional" (reference semantics —
    row-by-row in file order, driver-side), "hash" (distributed multiset
    equality / epsilon sort-zip — the 100 TB mode), or "auto" (default):
    positional below _POSITIONAL_MAX_BYTES combined on-disk bytes, hash
    above, with a stderr note on the switch. The auto switch trades the
    reference's row-ORDER sensitivity for scalability — at sizes where
    positional cannot run, file row order is an artifact of distributed
    writers anyway; pass method="positional" to pin exact reference
    semantics at any size (and accept the driver-memory cost)."""
    if method == "auto":
        total = _path_bytes(path1) + _path_bytes(path2)
        if total >= _POSITIONAL_MAX_BYTES:
            import sys

            print(
                f"compare: {total} combined bytes >= "
                f"{_POSITIONAL_MAX_BYTES} — using distributed hash mode "
                "(order-insensitive); pass method='positional' to force "
                "the driver-side row-order compare",
                file=sys.stderr,
            )
            method = "hash"
        else:
            method = "positional"
    if method == "hash":
        if spark is None:
            from bdt_spark.session import get_spark

            spark = get_spark("bdt_compare")
        res = _compare_hash(
            spark, path1, path2, epsilon=epsilon, header=header
        )
    else:
        res = _compare_positional(path1, path2, epsilon=epsilon, header=header)
    res.method = method  # surface which semantics ran (ADVICE r14)
    return res


def _compare_positional(
    path1: str, path2: str, *, epsilon: float | None, header: bool
) -> ComparisonResult:
    import numpy as np

    t1, t2 = _realign_json_side(
        path1, _read_arrow_table(path1, header), path2,
        _read_arrow_table(path2, header),
    )

    # count mismatch first (compare.rs:22-24, 66-67)
    if t1.num_rows != t2.num_rows:
        return ComparisonResult(
            False,
            f"Row counts do not match: {t1.num_rows} != {t2.num_rows}",
        )
    # schema width (row-length mismatch, compare.rs:56-63)
    if t1.num_columns != t2.num_columns:
        return ComparisonResult(
            False,
            f"Rows have different lengths: {t1.num_columns} != {t2.num_columns}",
        )

    # The reference scans row-major (compare.rs:27 zips rows) so the first
    # reported diff is the minimum (row, col) in row-major order. We scan
    # column-major for vectorization, but track the minimum differing row
    # index (then column) across ALL columns before reporting.
    first: tuple[int, int, object, object] | None = None
    for ci in range(t1.num_columns):
        c1 = t1.column(ci).combine_chunks()
        c2 = t2.column(ci).combine_chunks()
        bad = _mismatch(c1, c2, epsilon)
        if bad is None:
            return ComparisonResult(
                False,
                f"Column {ci} types are incomparable: {c1.type} != {c2.type}",
            )
        idx = np.flatnonzero(bad)
        if idx.size:
            ri = int(idx[0])
            if first is None or ri < first[0]:
                first = (ri, ci, c1[ri].as_py(), c2[ri].as_py())

    if first is not None:
        return _diff(*first)
    return ComparisonResult(True, "Files match")


def _mismatch(c1, c2, epsilon: float | None):
    """Boolean numpy mask of the rows where Arrow arrays `c1` and `c2`
    differ, or None when their types are incomparable. A null differs
    from any value. Floats are equal when both NaN, or within `epsilon`
    when one is given. Lists differ in a row whose null flags or lengths
    differ; the rest compare their flattened values by these same rules,
    and a differing value marks the row it sits in. A map is the list of
    its key/item entries; a struct differs in a row whose null flags or
    any field (by position, by these same rules) differ."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n1 = np.asarray(c1.is_null())
    n2 = np.asarray(c2.is_null())
    if pa.types.is_floating(c1.type) and pa.types.is_floating(c2.type):
        a = c1.to_numpy(zero_copy_only=False).astype("float64")
        b = c2.to_numpy(zero_copy_only=False).astype("float64")
        nan_both = np.isnan(a) & np.isnan(b)
        if epsilon is not None:
            bad = ~(nan_both | (np.abs(a - b) < epsilon))
        else:
            bad = ~(nan_both | (a == b))
        # arrow nulls became NaN above: decide them by validity
        return (bad & ~(n1 & n2)) | (n1 != n2)
    if _is_list(c1.type) and _is_list(c2.type):
        l1 = np.asarray(pc.fill_null(pc.list_value_length(c1), 0))
        l2 = np.asarray(pc.fill_null(pc.list_value_length(c2), 0))
        bad = (n1 != n2) | (l1 != l2)
        rows = np.flatnonzero(~n1 & ~n2 & (l1 == l2))
        s1, s2 = c1.take(rows), c2.take(rows)
        flat = _mismatch(pc.list_flatten(s1), pc.list_flatten(s2), epsilon)
        if flat is None:
            return None
        parents = np.asarray(pc.list_parent_indices(s1))
        bad[rows[parents[flat]]] = True
        return bad
    if pa.types.is_map(c1.type) and pa.types.is_map(c2.type):
        return _mismatch(_entries(c1), _entries(c2), epsilon)
    if pa.types.is_struct(c1.type) and pa.types.is_struct(c2.type):
        if c1.type.num_fields != c2.type.num_fields:
            return None
        bad = n1 != n2
        # flatten() folds each row's null flag into its fields
        for f1, f2 in zip(c1.flatten(), c2.flatten()):
            field_bad = _mismatch(f1, f2, epsilon)
            if field_bad is None:
                return None
            bad |= field_bad
        return bad
    if c1.type != c2.type:
        try:
            c1, c2 = _cast_to_common_type(c1, c2)
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
            return None
    # casts keep nulls (an unparsable value raises), so n1/n2 still hold
    neq = pc.fill_null(pc.not_equal(c1, c2), False)
    return np.asarray(neq) | (n1 != n2)


def _is_list(t) -> bool:
    import pyarrow as pa

    return (
        pa.types.is_list(t)
        or pa.types.is_large_list(t)
        or pa.types.is_fixed_size_list(t)
    )


def _entries(m):
    """A map array as the list array of its key/item entry structs."""
    import pyarrow as pa

    t = m.type
    return m.cast(pa.list_(pa.struct([t.key_field, t.item_field])))


def _cast_to_common_type(c1, c2):
    """The column pair as one type. A string column beside a timestamp or
    date column is parsed into that type, in either argument order: text
    formats hold times as ISO strings, and Spark's json writer adds a
    zone offset that a plain cast into a zoneless type rejects. Otherwise
    the second column is cast to the first's type."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def text(t):
        return pa.types.is_string(t) or pa.types.is_large_string(t)

    def temporal(t):
        return pa.types.is_timestamp(t) or pa.types.is_date(t)

    if text(c1.type) and temporal(c2.type):
        return _parse_temporal(c1, c2.type), c2
    if temporal(c1.type) and text(c2.type):
        return c1, _parse_temporal(c2, c1.type)
    return c1, pc.cast(c2, c1.type)


def _parse_temporal(strings, target):
    """ISO strings as `target`; a string with a zone offset parses as its
    UTC instant (the session time zone), with or without `target` zoned."""
    import pyarrow as pa
    import pyarrow.compute as pc

    try:
        return pc.cast(strings, target)
    except pa.ArrowInvalid:
        unit = target.unit if pa.types.is_timestamp(target) else "us"
        return pc.cast(pc.cast(strings, pa.timestamp(unit, "UTC")), target)


def _diff(row: int, col: int, left, right) -> ComparisonResult:
    # mirrors compare.rs:47-52 first-diff reporting
    return ComparisonResult(
        False,
        f"Row {row} does not match. {left} != {right} at position {col}",
    )


def _row_hash(df):
    """md5 over the row's JSON serialization (null fields kept, so NULL
    occupies a position; names are already aligned by the caller).

    Two equality-semantics patches so the JSON hash matches what a set-op
    comparison would have said:
    - float/double columns get `+ 0.0`, folding -0.0 into +0.0 (IEEE:
      -0.0 + 0.0 = +0.0; NaN and NULL pass through) — textually they
      serialize differently but compare equal.
    - map columns are replaced by their entry array sorted by key
      (`array_sort(map_entries(c))`): JSON serialization of a map follows
      its physical entry order, which is not canonical for equal maps.
    Both patches apply to TOP-LEVEL columns; floats or maps nested inside
    structs/arrays keep raw serialization (documented limitation)."""
    from pyspark.sql.types import DoubleType, FloatType, MapType

    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, (FloatType, DoubleType)):
            c = c + F.lit(0.0)
        elif isinstance(f.dataType, MapType):
            c = F.array_sort(F.map_entries(c))
        cols.append(c.alias(f.name))
    return F.md5(
        F.to_json(F.struct(*cols), {"ignoreNullFields": "false"})
    )


def _hash_diff_stats(df1, df2):
    """Single-row DataFrame with (n1, n2, extra1, extra2): total rows per
    side and per-side multiset-unmatched row counts.

    Shape: each side aggregates to (md5(row) -> count) — one hash shuffle
    per side with map-side partial aggregation — then the two count maps
    full-outer join on the hash (both sides already hash-partitioned on
    the key, so the join adds no exchange) and reduce to one row. This is
    the whole compare as ONE Spark action; contrast with exceptAll both
    directions = two full-width shuffles of both inputs plus separate
    count jobs.
    """
    h1 = df1.groupBy(_row_hash(df1).alias("h")).agg(F.count("*").alias("c1"))
    h2 = df2.groupBy(_row_hash(df2).alias("h")).agg(F.count("*").alias("c2"))
    joined = h1.join(h2, "h", "full_outer").select(
        F.coalesce("c1", F.lit(0)).alias("c1"),
        F.coalesce("c2", F.lit(0)).alias("c2"),
    )
    return joined.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(F.greatest(F.col("c1") - F.col("c2"), F.lit(0))).alias("extra1"),
        F.sum(F.greatest(F.col("c2") - F.col("c1"), F.lit(0))).alias("extra2"),
    )


def _zip_global_index(spark: SparkSession, df):
    """Attach a dense 0-based global row index following a canonical
    sort, via operators/globalorder.py (fully JVM-side, no Python
    round-trip: one ordered window below its size gate, range partitions
    plus broadcast offsets above it, with no single-partition stage).
    Map columns are excluded from the sort key (Spark defines no
    ordering for maps); float columns sort LAST so ties on exact columns
    are broken by the (possibly epsilon-noisy) floats only when nothing
    else distinguishes the rows. Returns (indexed, handle):
    release(handle) frees the heavy arm's sorted layout once the
    caller's actions complete."""
    from bdt_spark.operators.globalorder import with_global_order

    floats = [c for c, t in df.dtypes if t in ("float", "double")]
    unsortable = {
        f.name for f in df.schema.fields if f.dataType.typeName() == "map"
    }
    keys = [c for c in df.columns if c not in unsortable and c not in floats]
    keys += [c for c in floats if c not in unsortable]
    if not keys:
        keys = list(df.columns)
    order = [F.col(c).asc_nulls_first() for c in keys]
    res, _, _ = with_global_order(df, order, index_col="__idx1")
    indexed = res.withColumn(
        "__idx", F.col("__idx1") - F.lit(1)
    ).drop("__idx1")
    return indexed, res


# A float-tied group larger than this is re-matched approximately never in
# practice (it means >2000 rows identical on EVERY non-float column whose
# positional zip failed); past the cap the second-chance pass raises a
# LOUD ValueError rather than running an O(V*E) matching on a huge group —
# never a silent verdict in either direction (a chunked matching cannot be
# exact: eps-edges cross any fixed chunk boundary, so the honest options
# are run-it or refuse-to-certify, and we refuse with a diagnosis).
_REMATCH_CAP = 2000


def _float_tied_rematch(
    spark: SparkSession, df1, df2, j, bad, float_cols, map_cols, epsilon
) -> bool:
    """Second-chance EXACT resolution of the sort-zip residual: rows
    identical on all exact (non-float, non-map) columns whose eps-close
    float columns sort in different relative orders on the two sides.

    For a SINGLE float column the canonical sort-zip is already exact (the
    standard uncrossing argument on a line: if any perfect eps-matching of
    two sorted sequences exists, the monotone pairing is one). With TWO or
    more float columns it is not — anti-correlated values cross-zip (e.g.
    left {(0, 0), (.05, 1)} vs right {(0, 1), (.05, 0)} under eps=.08
    lexicographically zips (0,0)-(0,1)) — so multiset-vs-multiset epsilon
    equality within a group is a bipartite matching problem. This pass
    runs ONLY on the failure path (zero cost on matching files): it takes
    the exact-column key of every bad zipped pair (both sides — a
    genuinely mismatched pair contributes two keys whose groups then fail
    here), pulls each candidate group from both inputs via a null-safe
    semi-join, and inside one cogrouped applyInPandas runs augmenting-path
    (Kuhn) maximum matching with the edge predicate mirroring the zip
    predicate: per float column both-null, both-NaN, bitwise-equal, or
    |l-r| < eps (nulls tracked as explicit flags — Arrow folds null into
    NaN for float64, which must NOT make null match NaN). Map columns are
    canonicalized Spark-side to `array_sort(map_entries(m))` and folded
    into the GROUP KEY itself: maps compare exactly (no epsilon inside a
    map), so two rows whose maps differ can never match and grouping by
    the canonical entries expresses that with Spark's own grouping
    equality — the same NaN==NaN / -0.0==0.0 normalization the zip
    predicate's eqNullSafe applies, entry-order-insensitive, and no
    Arrow-decoded object comparison in pandas (the r10 version compared
    decoded map objects, which was entry-order-sensitive and rejected
    NaN-valued entries that Spark equality accepts).

    Oversized groups decompose into eps-connected blocks (per-column
    null/NaN/numeric-run chain splitting — see match_group) and each
    block matches independently; only a single block STILL beyond
    _REMATCH_CAP rows raises ValueError (refuse-to-certify — never a
    silent accept OR reject; the pre-r11 silent reject reported "files
    differ" for files that may match, and the r11 cap refused large
    groups even when their components were tiny).

    Returns True iff every candidate group admits a perfect matching —
    i.e. the files are multiset-equal under epsilon. Exactness argument:
    a zipped pair is good only if its exact columns (including canonical
    map entries) are null-safe-equal, so good pairs never cross groups;
    every row of a group with any bad pair participates in that group's
    rematch, and groups with no bad pairs were already proven pairwise."""
    from functools import reduce
    from operator import and_

    # Maps join the exact/group key as canonical sorted entry arrays
    # (see docstring); only float columns stay pandas-side.
    exact_cols = [c for c in df1.columns if c not in float_cols]

    def canon(col, name):
        if name in map_cols:
            return F.array_sort(F.map_entries(col)).alias(name)
        return col.alias(name)

    def prep(df):
        # null flags BEFORE Arrow transfer: float64 nulls arrive as NaN
        cols = [canon(F.col(c), c) for c in df.columns] + [
            F.col(c).isNull().alias(f"__n_{c}") for c in float_cols
        ]
        out = df.select(*cols)
        if not exact_cols:
            out = out.withColumn("__g", F.lit(1))
        return out

    p1, p2 = prep(df1), prep(df2.toDF(*df1.columns))
    gkeys = exact_cols or ["__g"]

    if exact_cols:
        lk = j.filter(bad).select(
            *[canon(F.col(c), c) for c in exact_cols]
        )
        rk = j.filter(bad).select(
            *[canon(F.col(f"__r_{c}"), c) for c in exact_cols]
        )
        keys = (
            lk.unionByName(rk)
            .distinct()
            .select(*[F.col(c).alias(f"__k_{c}") for c in exact_cols])
        )
        cond = reduce(
            and_,
            [F.col(c).eqNullSafe(F.col(f"__k_{c}")) for c in exact_cols],
        )
        p1 = p1.join(keys, cond, "left_semi")
        p2 = p2.join(keys, cond, "left_semi")

    fcols, eps = list(float_cols), float(epsilon)

    def match_group(left, right):
        import numpy as np
        import pandas as pd

        nl, nr = len(left), len(right)
        if nl != nr:
            return pd.DataFrame({"ok": [False], "reason": ["size"]})
        lv = {c: left[c].to_numpy(dtype="float64") for c in fcols}
        rv = {c: right[c].to_numpy(dtype="float64") for c in fcols}
        ln = {c: left[f"__n_{c}"].to_numpy(dtype=bool) for c in fcols}
        rn = {c: right[f"__n_{c}"].to_numpy(dtype=bool) for c in fcols}

        # Oversized groups (r11 refused these outright) decompose into
        # eps-connected BLOCKS first: an edge needs |l-r| < eps (or
        # both-null / both-NaN / bitwise-equal) in EVERY float column, so
        # chain-splitting the rows per column — null block, NaN block,
        # then numeric runs broken where consecutive sorted values gap by
        # >= eps — yields blocks that no edge crosses (each true
        # eps-connected component lies wholly inside one block, column by
        # column). Matching therefore decides each block independently:
        # a block with unequal sides can never host a perfect matching,
        # and only a block STILL over the cap after all columns are spent
        # refuses certification (VERDICT r11 #7 — a 2000+ row group of
        # tiny float-tied clusters now certifies instead of erroring).
        def split_blocks(lidx, ridx, ci):
            if ci == len(fcols) or (
                len(lidx) <= _REMATCH_CAP and len(ridx) <= _REMATCH_CAP
            ):
                yield lidx, ridx
                return
            c = fcols[ci]
            lnull = ln[c][lidx]
            rnull = rn[c][ridx]
            with np.errstate(invalid="ignore"):
                lnan = np.isnan(lv[c][lidx]) & ~lnull
                rnan = np.isnan(rv[c][ridx]) & ~rnull
            yield from split_blocks(lidx[lnull], ridx[rnull], ci + 1)
            yield from split_blocks(lidx[lnan], ridx[rnan], ci + 1)
            lnum = lidx[~lnull & ~lnan]
            rnum = ridx[~rnull & ~rnan]
            vals = np.concatenate([lv[c][lnum], rv[c][rnum]])
            sides = np.concatenate(
                [np.zeros(len(lnum), dtype=bool), np.ones(len(rnum), dtype=bool)]
            )
            rows = np.concatenate([lnum, rnum])
            order = np.argsort(vals, kind="stable")
            vals, sides, rows = vals[order], sides[order], rows[order]
            # new run wherever the sorted gap reaches eps (no edge can
            # span it; equal/bitwise-equal values have gap 0, +-inf runs
            # split from finite values by an infinite gap)
            if len(vals):
                with np.errstate(invalid="ignore"):
                    cut = np.empty(len(vals), dtype=bool)
                    cut[0] = True
                    d = vals[1:] - vals[:-1]
                    cut[1:] = ~((d < eps) | (vals[1:] == vals[:-1]))
                run = np.cumsum(cut)
                for r in range(1, run[-1] + 1):
                    m = run == r
                    yield from split_blocks(
                        rows[m & ~sides], rows[m & sides], ci + 1
                    )

        def block_adj(lidx, ridx):
            adj = []
            for i in lidx:
                mask = np.ones(len(ridx), dtype=bool)
                for c in fcols:
                    li, ni = lv[c][i], ln[c][i]
                    rvv, rnn = rv[c][ridx], rn[c][ridx]
                    both_null = ni & rnn
                    with np.errstate(invalid="ignore"):
                        val_ok = (
                            (~ni)
                            & ~rnn
                            & (
                                (np.abs(li - rvv) < eps)
                                | (np.isnan(li) & np.isnan(rvv))
                                | (rvv == li)
                            )
                        )
                    mask &= both_null | val_ok
                adj.append(np.nonzero(mask)[0].tolist())
            return adj

        import sys as _sys

        _sys.setrecursionlimit(max(10000, 10 * min(nl, _REMATCH_CAP) + 100))
        all_l = np.arange(nl)
        all_r = np.arange(nr)
        blocks = (
            [(all_l, all_r)]
            if nl <= _REMATCH_CAP
            else list(split_blocks(all_l, all_r, 0))
        )
        oversized = max(
            (len(b[0]) for b in blocks if len(b[0]) > _REMATCH_CAP), default=0
        )
        if oversized:
            return pd.DataFrame({"ok": [False], "reason": [f"cap:{oversized}"]})
        for lidx, ridx in blocks:
            if len(lidx) != len(ridx):
                return pd.DataFrame({"ok": [False], "reason": ["nomatch"]})
            if not len(lidx):
                continue
            adj = block_adj(lidx, ridx)
            match_r = [-1] * len(ridx)

            def augment(i, seen):
                for v in adj[i]:
                    if not seen[v]:
                        seen[v] = True
                        if match_r[v] == -1 or augment(match_r[v], seen):
                            match_r[v] = i
                            return True
                return False

            if not all(augment(i, [False] * len(ridx)) for i in range(len(lidx))):
                return pd.DataFrame({"ok": [False], "reason": ["nomatch"]})
        return pd.DataFrame({"ok": [True], "reason": [None]})

    res = (
        p1.groupBy(*gkeys)
        .cogroup(p2.groupBy(*gkeys))
        .applyInPandas(match_group, "ok boolean, reason string")
    )
    [r] = res.agg(
        F.sum(F.when(F.col("ok"), 0).otherwise(1)).alias("n_unmatched"),
        F.max(
            F.when(F.col("reason").startswith("cap:"), F.col("reason"))
        ).alias("cap"),
    ).collect()
    if r.cap:
        raise ValueError(
            f"compare --epsilon cannot certify these files: an "
            f"eps-CONNECTED component of {r.cap.split(':', 1)[1]} rows "
            f"(identical on every non-float column, every float column an "
            f"unbroken eps-chain) exceeds the bipartite-rematch cap "
            f"_REMATCH_CAP={_REMATCH_CAP}. Large groups of SMALL "
            f"components certify fine (r12); only a single dense cluster "
            f"this size is refused. The files may or may not match within "
            f"epsilon; rerun with exact comparison (no --epsilon), a "
            f"smaller epsilon, or add a distinguishing exact column."
        )
    return (r.n_unmatched or 0) == 0


def _compare_epsilon_sorted(
    spark: SparkSession, df1, df2, epsilon: float
) -> ComparisonResult:
    """Distributed EXACT-epsilon compare: canonical-sort both sides, zip by
    global row index, test |l - r| < eps per float column (null-safe
    equality elsewhere). Replaces the old round-to-digits approximation,
    which misclassified pairs straddling a rounding boundary (0.0014999
    vs 0.0015001 with eps=1e-2 round to different buckets). Cost: one
    global sort per side (operators/globalorder.py picks the plan), then
    an index equi-join and ONE aggregate, which also counts each side's
    rows: unequal counts report "Row counts do not match" before any
    rematch runs.
    Rows whose ONLY distinction is epsilon-close float values can sort in
    different relative orders on the two sides; the sort pins the order by
    the exact columns first (exact for <= 1 float column by the uncrossing
    argument), and any remaining zip failures go through
    _float_tied_rematch, which resolves the multi-float-column residual
    EXACTLY via per-group bipartite matching (maps fold into the group
    key via canonical sorted entries) — the only non-exact outcome left
    is a group past _REMATCH_CAP, which raises a loud ValueError instead
    of delivering a verdict. Pinned by
    tests/test_compare.py::test_hash_mode_epsilon_nonfloat_sort_prevents_cross_zip
    and ::test_hash_mode_epsilon_float_tied_rows_rematch."""
    from bdt_spark.operators.cacheutil import release

    i1, c1 = _zip_global_index(spark, df1)
    i2, c2 = _zip_global_index(spark, df2.toDF(*df1.columns))
    # side markers: a data row may be all-NULL, the marker never is
    r2 = i2.select(
        "__idx",
        F.lit(True).alias("__r_side"),
        *[F.col(c).alias(f"__r_{c}") for c in df1.columns],
    )
    j = i1.withColumn("__l_side", F.lit(True)).join(r2, "__idx", "full_outer")

    float_cols = {c for c, t in df1.dtypes if t in ("float", "double")}
    map_cols = {
        f.name for f in df1.schema.fields if f.dataType.typeName() == "map"
    }
    bad = F.lit(False)
    for c in df1.columns:
        left, right = F.col(c), F.col(f"__r_{c}")
        if c in float_cols:
            col_ok = (
                left.eqNullSafe(right)  # both null, or bitwise-equal (inf)
                | (F.isnan(left) & F.isnan(right))
                | (F.abs(left - right) < F.lit(epsilon))
            )
            # NULL-vs-value: |l - r| is NULL, and a NULL col_ok would be
            # skipped by the SUM and dropped by the filter below — i.e.
            # silently counted as a match. Pin it to a definite mismatch.
            col_ok = F.coalesce(col_ok, F.lit(False))
        elif c in map_cols:
            # eqNullSafe is undefined over maps (no ordering); compare
            # the canonical entry arrays, as the exact hash mode does
            col_ok = F.array_sort(F.map_entries(left)).eqNullSafe(
                F.array_sort(F.map_entries(right))
            )
        else:
            col_ok = left.eqNullSafe(right)
        bad = bad | ~col_ok
    try:
        [row] = (
            j.select(bad.alias("bad"), "__l_side", "__r_side")
            .agg(
                F.count("*").alias("n"),
                F.count("__l_side").alias("n1"),
                F.count("__r_side").alias("n2"),
                F.sum(F.col("bad").cast("long")).alias("n_bad"),
            )
            .collect()
        )
        if row.n1 != row.n2:
            return ComparisonResult(
                False, f"Row counts do not match: {row.n1} != {row.n2}"
            )
        if row.n_bad:
            # Second chance (failure path only): zip failures may be the
            # multi-float-column cross-zip residual, not real mismatches —
            # resolve exactly with per-group bipartite matching.
            if float_cols and _float_tied_rematch(
                spark, df1, df2, j, bad, float_cols, map_cols, epsilon
            ):
                return ComparisonResult(True, "Files match")
            # fetch the first differing row (canonical order) and name
            # the offending column, mirroring positional mode's report
            first = j.filter(bad).orderBy("__idx").limit(1).collect()[0]
            detail = ""
            for ci, c in enumerate(df1.columns):
                left, right = first[c], first[f"__r_{c}"]
                if c in float_cols and left is not None and right is not None:
                    import math as _m

                    if (
                        left == right
                        or (_m.isnan(left) and _m.isnan(right))
                        or abs(left - right) < epsilon
                    ):
                        continue
                elif left == right:
                    continue
                detail = (
                    f" First diff at canonical row {first['__idx']}: "
                    f"{left} != {right} at position {ci}"
                )
                break
            return ComparisonResult(
                False,
                f"{row.n_bad} of {row.n} rows differ beyond "
                f"epsilon={epsilon}.{detail}",
            )
        return ComparisonResult(True, "Files match")
    finally:
        release(c1)
        release(c2)


def _compare_hash(
    spark: SparkSession,
    path1: str,
    path2: str,
    *,
    epsilon: float | None,
    header: bool,
) -> ComparisonResult:
    df1, df2 = _realign_json_side(
        path1, read_file(spark, path1, header=header), path2,
        read_file(spark, path2, header=header),
    )

    if len(df1.columns) != len(df2.columns):
        # reference reports count mismatch before row-length mismatch
        # (compare.rs:22-24 then :56-63); only this rare path pays the
        # extra count jobs
        n1, n2 = df1.count(), df2.count()
        if n1 != n2:
            return ComparisonResult(
                False, f"Row counts do not match: {n1} != {n2}"
            )
        return ComparisonResult(
            False,
            f"Rows have different lengths: {len(df1.columns)} != {len(df2.columns)}",
        )

    if epsilon is not None:
        # the count check happens inside, in the compare's one aggregate,
        # so no separate count() scans
        return _compare_epsilon_sorted(spark, df1, df2, epsilon)
    df2 = df2.toDF(*df1.columns)

    [row] = _hash_diff_stats(df1, df2).collect()
    n1, n2 = row.n1 or 0, row.n2 or 0
    if n1 != n2:
        return ComparisonResult(False, f"Row counts do not match: {n1} != {n2}")
    if row.extra1:
        return ComparisonResult(
            False, f"{row.extra1} rows in {path1} have no match in {path2}"
        )
    if row.extra2:
        return ComparisonResult(
            False, f"{row.extra2} rows in {path2} have no match in {path1}"
        )
    return ComparisonResult(True, "Files match")
