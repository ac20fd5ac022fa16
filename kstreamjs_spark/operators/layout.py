"""Data-layout operators: Z-order (Morton) clustering keys.

At 100 TB the scan you avoid is cheaper than any scan you optimize:
lakehouse tables are laid out so that file/row-group min-max statistics
prune reads. A 1-D sort clusters exactly one column; bit-interleaving
two quantized sort keys (the Z-order curve, public Morton-code
construction — the layout trick behind Delta/Iceberg OPTIMIZE ZORDER)
bounds BOTH columns within every contiguous key range, so predicates on
either column (or both) skip most of the table.

Everything here is plain codegen arithmetic (shift/and/or chains — no
UDF, no shuffle); the engine's `repartitionByRange(zvalue)` or a
`sortWithinPartitions` over the key produces the physical layout, and
the bucketed statistics query (q173) is the evidence that the curve
clusters both dimensions at once.

The reference has no layout surface (its sink is a Kafka topic,
reference src/stream.ts:240-247); this is a north-star extension.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

#: Number of bits interleaved per dimension (16+16 -> 32-bit z-value).
Z_BITS = 16


def quantize16(col: Column) -> Column:
    """Low-16-bit quantization of an integral column: ``x & 0xFFFF``.
    For doubles, floor first (`F.floor` yields LONG) — callers compose.
    Symbol-for-symbol mirrored by `quantize16_sql`."""
    return col.cast("long").bitwiseAND(F.lit(65535))


def zvalue(x16: Column, y16: Column, bits: int = Z_BITS) -> Column:
    """Morton interleave of two ``bits``-bit ints: bit b of x lands at
    position 2b, bit b of y at 2b+1. A chain of 2*bits shift/and/or
    terms — one codegen expression, zero Python, zero shuffle."""
    z = F.lit(0).cast("long")
    for b in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x16, b).bitwiseAND(F.lit(1)), 2 * b)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y16, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
    return z


def quantize16_sql(expr: str) -> str:
    """DuckDB mirror of `quantize16` (expr must already be BIGINT)."""
    return f"({expr} & 65535)"


def zvalue_sql(x_expr: str, y_expr: str, bits: int = Z_BITS) -> str:
    """DuckDB mirror of `zvalue`: the identical shift/and/or chain over
    two BIGINT expressions, OR-folded (non-overlapping bit positions)."""
    terms = []
    for b in range(bits):
        terms.append(f"((({x_expr} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({y_expr} >> {b}) & 1) << {2 * b + 1})")
    return "(" + " | ".join(terms) + ")"


def write_zorder_partitioned(
    df: DataFrame,
    path: str,
    x16: Column,
    y16: Column,
    file_bits: int = 4,
) -> None:
    """Materialize the z-ordered LAKEHOUSE LAYOUT: directory-partition
    by the top ``file_bits*2`` interleaved bits of the z-value (a
    deterministic z-range per directory — 2**(2*file_bits) cells), and
    z-sort rows WITHIN each file so row-group min-max footers stay
    tight on BOTH dimensions. One shuffle (hash on the cell id), one
    file per cell (each distinct cell hashes to exactly one task).

    At 100 TB the same plan swaps the deterministic cell id for
    ``repartitionByRange(n_files, z)`` to balance file SIZES instead
    of curve cells; the deterministic form here keeps the manifest
    closed-form so the write is oracle-checkable end-to-end (q211)."""
    zorder_stage(df, x16, y16, file_bits).write.mode(
        "overwrite"
    ).partitionBy("zfile").parquet(path)


def zorder_stage(
    df: DataFrame, x16: Column, y16: Column, file_bits: int = 4
) -> DataFrame:
    """The staging plan behind :func:`write_zorder_partitioned`, shared
    with the STREAMING ingest path (q211b writes each micro-batch
    through this with mode('append')): cell id = top interleaved z
    bits, one exchange hashed on it, rows z-sorted within."""
    z = zvalue(x16, y16)
    shift = 2 * Z_BITS - 2 * file_bits
    return (
        df.withColumn("zfile", F.shiftright(z, shift))
        .withColumn("__z", z)
        .repartition("zfile")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def compact_partitions(
    spark,
    root: str,
    partition_col: str = "zfile",
    max_files: int = 1,
) -> list[tuple[str, int, int]]:
    """Lakehouse OPTIMIZE-style SMALL-FILE COMPACTION — the
    maintenance half of the write path next to q211b's streaming
    appends and q213's partition-pruned MERGE: continuous micro-batch
    ingest leaves one small file per batch per partition; this
    operator rewrites ONLY the partitions whose file count exceeds
    ``max_files``, coalescing each to a single z-run, and leaves every
    other partition's files physically untouched (the partition-pruned
    contract, pytest-pinned by mtime).

    Protocol (the copy-on-write + swap idiom q213 established —
    staged writes sidestep Spark's cannot-overwrite-a-read-path rule
    without materializing anything driver-side):

    1. CENSUS from the directory listing (the manifest stand-in; a
       metadata op, no data scan): partitions with > max_files files.
    2. One job writes those partitions' rows to a staging dir,
       repartitioned BY the partition column (all rows of a partition
       land in one task -> exactly one output file per partition),
       z-sorted within when the data carries a __z/sort column's
       ordering already (parquet preserves row order per file, so
       re-reading concatenated z-runs and writing one file keeps rows
       grouped; footers stay tight because each source file was
       z-sorted and the groups concatenate).
    3. Per-partition atomic swap: os.rename the old dir out (into a
       trash slot INSIDE the staging dir — never under the table root,
       so a crash mid-swap can't leave a dir the census would parse as
       a ghost partition), the staged dir in, then drop the old
       copies. Readers resolving the table path never see a
       half-compacted partition.

    Crash recovery: a crash between the two renames leaves
    the partition MISSING from the table and its old copy in the
    staging trash slot. The census therefore starts by recovering any
    orphaned staging dir from a previous run: a trash slot whose
    partition is absent from the table root is renamed BACK (the swap
    never completed — the old data is still the truth); one whose
    partition is present is dropped (the swap completed, only the
    cleanup died). Only then is the staging dir cleared.

    Returns [(partition_value, files_before, files_after)] for the
    compacted partitions. At 100 TB: the census comes from the real
    table-format manifest, step 2 batches partitions into size-bounded
    compaction groups, and the swap is a manifest commit — the shape
    here is that protocol minus the format dependency."""
    import os
    import shutil

    prefix = f"{partition_col}="
    staging = root.rstrip("/") + "__compact_staging"
    trash_prefix = "__trash__"
    # Recover a previous run's orphaned staging dir BEFORE the census:
    # a trash slot whose partition is missing from the table root marks
    # a crash between the two swap renames — restore it (the old data
    # is still the truth); one whose partition exists marks a completed
    # swap whose cleanup died — safe to drop with the staging dir.
    if os.path.isdir(staging):
        for name in os.listdir(staging):
            if not name.startswith(trash_prefix + prefix):
                continue
            part_dir = os.path.join(root, name[len(trash_prefix):])
            if not os.path.isdir(part_dir):
                os.rename(os.path.join(staging, name), part_dir)
        shutil.rmtree(staging, ignore_errors=True)
    census: dict[str, int] = {}
    for name in os.listdir(root):
        if not name.startswith(prefix):
            continue
        n = sum(
            1
            for f in os.listdir(os.path.join(root, name))
            if f.endswith(".parquet")
        )
        census[name[len(prefix):]] = n
    todo = sorted(v for v, n in census.items() if n > max_files)
    if not todo:
        return []
    # basePath keeps the partition column visible while scanning ONLY
    # the to-compact partition dirs (partition pruning by path)
    sub = spark.read.option("basePath", root).parquet(
        *[os.path.join(root, prefix + v) for v in todo]
    )
    (
        sub.repartition(F.col(partition_col))
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(staging)
    )
    out = []
    for v in todo:
        old = os.path.join(root, prefix + v)
        new = os.path.join(staging, prefix + v)
        # trash slot lives under STAGING, not the table root: a crash
        # here can never leave a '<prefix>...__old' dir that a later
        # census would parse as a ghost partition value
        trash = os.path.join(staging, trash_prefix + prefix + v)
        os.rename(old, trash)
        os.rename(new, old)
        shutil.rmtree(trash)
        after = sum(
            1 for f in os.listdir(old) if f.endswith(".parquet")
        )
        out.append((v, census[v], after))
    shutil.rmtree(staging, ignore_errors=True)
    return out


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 8,
    sort: bool = True,
) -> None:
    """Write ``df`` as a Spark BUCKETED catalog table: rows hash-
    partitioned into ``n_buckets`` files by ``key`` at WRITE time (and
    sorted by it within each bucket when ``sort``), with the bucket
    spec recorded in the catalog. Two tables bucketed by their join
    keys with the same bucket count then SortMergeJoin with ZERO
    exchanges — the co-located-join mechanism for 100 TB fact-fact
    joins, where the shuffle (not the join) is the bill: pay the
    partitioning once at ingest, reuse it for every downstream join
    and aggregation on that key (plan-asserted by the q217 pytest).

    Catalog, not path: bucketing metadata lives in the table catalog
    (plain `.parquet(path)` cannot carry it), so this writes via
    saveAsTable into the session warehouse. Callers own table-name
    scoping (q217 uses pid+sf-scoped names so concurrent checkers
    never collide)."""
    w = df.write.bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    w.mode("overwrite").saveAsTable(table)


# ---------------------------------------------------------------- Hilbert
#: Bits per dimension for the Hilbert curve. 15 (not Z_BITS=16) so the
#: packed fold accumulator [d:30 | y:15 | x:15] stays under 2^60 — the
#: whole per-level state machine rides ONE int64 through an aggregate
#: fold, which is what keeps the expression tree linear (a naive
#: unrolled CASE chain doubles per level: 2^15 nodes) and the DuckDB
#: mirror a plain list_reduce over BIGINTs (the fingerprint_sql shape).
H_BITS = 15


def quantize15(col: Column) -> Column:
    """Low-15-bit quantization: ``x & 0x7FFF`` (the Hilbert sibling of
    `quantize16`)."""
    return col.cast("long").bitwiseAND(F.lit(32767))


def quantize15_sql(expr: str) -> str:
    return f"({expr} & 32767)"


def hilbert_value(x15: Column, y15: Column, bits: int = H_BITS) -> Column:
    """Hilbert curve index d of (x, y) — the locality-optimal
    space-filling curve (every curve step is an ADJACENT cell, where
    the Z curve jumps at power-of-two boundaries), via the standard
    per-level rotate-and-accumulate algorithm (public xy2d form):

        for s in 2^(bits-1) .. 1:
            rx, ry = bit tests of x, y against s
            d += s*s * digit(rx, ry)      # digit = 3rx + ry - 2rx·ry
            rotate: if ry == 0 { if rx == 1 { x,y = n-1-x, n-1-y };
                                 swap x,y }     # n = 2^bits: stays >= 0

    The rotation makes each level depend on the previous — a
    SEQUENTIAL state machine. Expressed as `F.aggregate` over the
    level array with the (x, y, d) state PACKED into one long
    [(d << 30) | (y << 15) | x]: the fold body is constant-size, the
    runtime iterates, and the identical fold is SQL-expressible
    (`hilbert_value_sql`). The digit uses the xor-free arithmetic
    identity 3rx + ry - 2rx·ry == (3rx) XOR ry for rx,ry in {0,1}.
    Pure codegen arithmetic — no UDF, no shuffle."""
    svals = F.array(
        *[F.lit(1 << (bits - 1 - i)).cast("long") for i in range(bits)]
    )
    init = (y15.cast("long") * F.lit(32768) + x15.cast("long"))

    def step(acc: Column, s: Column) -> Column:
        x = acc.bitwiseAND(F.lit(32767))
        y = F.shiftright(acc, 15).bitwiseAND(F.lit(32767))
        d = F.shiftright(acc, 30)
        rx = F.when(x.bitwiseAND(s) > 0, F.lit(1)).otherwise(
            F.lit(0)
        ).cast("long")
        ry = F.when(y.bitwiseAND(s) > 0, F.lit(1)).otherwise(
            F.lit(0)
        ).cast("long")
        d2 = d + s * s * (F.lit(3) * rx + ry - F.lit(2) * rx * ry)
        nx = F.when(
            ry == 0,
            F.when(rx == 1, F.lit(32767) - y).otherwise(y),
        ).otherwise(x)
        ny = F.when(
            ry == 0,
            F.when(rx == 1, F.lit(32767) - x).otherwise(x),
        ).otherwise(y)
        return F.shiftleft(d2, 30).bitwiseOR(
            F.shiftleft(ny, 15)
        ).bitwiseOR(nx)

    return F.shiftright(F.aggregate(svals, init, step), 30)


def hilbert_value_sql(x_expr: str, y_expr: str, bits: int = H_BITS) -> str:
    """DuckDB mirror of `hilbert_value`: the identical packed fold as a
    list_reduce over BIGINTs (list_prepend carries the init
    accumulator, the fingerprint_sql pattern)."""
    svals = ", ".join(
        str(1 << (bits - 1 - i)) for i in range(bits)
    )
    # readable names for the fold pieces
    x = "(acc & 32767)"
    y = "((acc >> 15) & 32767)"
    rx = f"(CASE WHEN ({x} & s) > 0 THEN 1 ELSE 0 END)"
    ry = f"(CASE WHEN ({y} & s) > 0 THEN 1 ELSE 0 END)"
    d2 = (
        f"((acc >> 30) + s * s * "
        f"(3 * {rx} + {ry} - 2 * {rx} * {ry}))"
    )
    nx = (
        f"(CASE WHEN {ry} = 0 THEN "
        f"(CASE WHEN {rx} = 1 THEN 32767 - {y} ELSE {y} END) "
        f"ELSE {x} END)"
    )
    ny = (
        f"(CASE WHEN {ry} = 0 THEN "
        f"(CASE WHEN {rx} = 1 THEN 32767 - {x} ELSE {x} END) "
        f"ELSE {y} END)"
    )
    return (
        f"(list_reduce(list_prepend("
        f"CAST({y_expr} * 32768 + {x_expr} AS BIGINT), "
        f"[{svals}]::BIGINT[]), "
        f"(acc, s) -> (({d2} << 30) | ({ny} << 15) | {nx})"
        f") >> 30)"
    )
