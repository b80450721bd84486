"""Z-order (Morton-curve) multi-dimensional clustering.

A single-column sort lets parquet min/max footers prune ONE dimension;
any predicate on a second dimension still touches every file. The
Z-curve interleaves the bits of N quantized dimensions so rows close
in N-dim space land in the same files — a box predicate on ANY subset
of the dimensions then skips most row groups at scan time. This is
the layout move Delta's ``OPTIMIZE ZORDER BY`` and Iceberg sort
orders make; here it is pure ``Column`` bit arithmetic (floor /
shiftleft / bitwise-or — whole-stage-codegen, no UDF), plus a
generated DuckDB SQL twin so the key itself is oracle-checkable
bit-for-bit.

Scale notes: :func:`write_zordered` is one range-partitioned sort
(Spark samples range boundaries distributed — no driver collect) and
the key is a narrow projection; re-clustering 100 TB costs exactly
one shuffle, the same as any global sort. Quantization bounds are
caller-provided constants — at scale they come from table-level stats
(a ``profile_columns`` pass), never a per-write min/max job.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: bits per dimension; n_dims * bits must stay < 63 (signed long)
DEFAULT_BITS = 16


@dataclass(frozen=True)
class ZDim:
    """One Z-order dimension: a numeric expression plus its fixed
    quantization range [lo, hi). Values outside clamp to the edge
    cells (out-of-range data degrades locality, never correctness)."""

    lo: float
    hi: float


def _quantize(col: Column, dim: ZDim, bits: int) -> Column:
    cells = 1 << bits
    # FLOOR explicitly: Spark's double->long cast truncates toward
    # zero but DuckDB's CAST rounds — floor() agrees everywhere
    scaled = F.floor(
        (col.cast("double") - F.lit(float(dim.lo)))
        / F.lit(float(dim.hi - dim.lo))
        * F.lit(float(cells))
    ).cast("long")
    return F.least(F.lit(cells - 1), F.greatest(F.lit(0), scaled))


def _interleave_plan(n_dims: int, bits: int) -> list[tuple[int, int, int]]:
    """(dim, src_bit, dst_bit) placements; dim 0 owns the most
    significant bit of each interleave group."""
    if n_dims * bits >= 63:
        raise ValueError(
            f"{n_dims} dims x {bits} bits exceeds a signed 64-bit key"
        )
    plan = []
    for d in range(n_dims):
        for b in range(bits):
            dst = b * n_dims + (n_dims - 1 - d)
            plan.append((d, b, dst))
    return plan


def zorder_key(
    cols: list[Column], dims: list[ZDim], bits: int = DEFAULT_BITS
) -> Column:
    """The Morton key column for ``cols`` quantized by ``dims``."""
    if len(cols) != len(dims):
        raise ValueError("one ZDim range per column is required")
    qs = [_quantize(c, d, bits) for c, d in zip(cols, dims)]
    key = F.lit(0).cast("long")
    for d, src, dst in _interleave_plan(len(cols), bits):
        bit = qs[d].bitwiseAND(F.lit(1 << src))
        moved = (
            F.shiftleft(bit, dst - src)
            if dst >= src
            else F.shiftright(bit, src - dst)
        )
        key = key.bitwiseOR(moved)
    return key


def quantize_sql(expr: str, dim: ZDim, bits: int = DEFAULT_BITS) -> str:
    """DuckDB SQL for one dimension's quantized cell (bit-identical to
    the Spark-side quantization, same floor semantics) — compose with
    :func:`interleave_sql` via a CTE to keep the oracle compact."""
    cells = 1 << bits
    scaled = (
        f"CAST(FLOOR((CAST({expr} AS DOUBLE) - {float(dim.lo)!r}) "
        f"/ {float(dim.hi - dim.lo)!r} * {float(cells)!r}) AS BIGINT)"
    )
    return f"LEAST({cells - 1}, GREATEST(0, {scaled}))"


def interleave_sql(
    q_exprs: list[str], bits: int = DEFAULT_BITS
) -> str:
    """DuckDB SQL interleaving ALREADY-QUANTIZED cell expressions with
    the exact plan :func:`zorder_key` uses."""
    parts = []
    for d, src, dst in _interleave_plan(len(q_exprs), bits):
        bit = f"(({q_exprs[d]}) & {1 << src})"
        if dst >= src:
            parts.append(f"({bit} << {dst - src})")
        else:
            parts.append(f"({bit} >> {src - dst})")
    return "(" + " | ".join(parts) + ")"


def zorder_signature(
    cols: list[str], dims: list[ZDim], bits: int = DEFAULT_BITS
) -> str:
    """Manifest key signature for a Z layout: ranges are only valid
    for the exact (columns, quantization, bit-width) that produced
    them."""
    d = ";".join(f"{dim.lo!r},{dim.hi!r}" for dim in dims)
    return f"zorder:{','.join(cols)}:{d}:{bits}"


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    dims: list[ZDim],
    n_files: int = 32,
    bits: int = DEFAULT_BITS,
    write_manifest: bool = True,
) -> None:
    """Write ``df`` clustered along the Z-curve of ``cols``.

    One range shuffle on the key, then a within-partition sort, so
    every output file covers a compact Z-range — a tight bounding box
    in EVERY dimension — and parquet footer stats prune box predicates
    on any of them. Row groups whose stats exclude the predicate are
    skipped at scan; with file-per-range layouts whole files drop out.

    ``write_manifest`` persists per-file Z-key ranges (keyed by the
    exact quantization signature) so incremental merges plan from
    metadata instead of recomputing the key over the whole layout.
    """
    key = zorder_key([F.col(c) for c in cols], dims, bits)
    (
        df.withColumn("_zkey", key)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    if write_manifest:
        from mydatasyncer_spark.sources.writers import (
            write_layout_manifest,
        )

        spark = df.sparkSession
        ranges = [
            (r["_file"], r["_lo"], r["_hi"])
            for r in spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("_file"))
            .agg(F.min(key).alias("_lo"), F.max(key).alias("_hi"))
            .collect()
        ]
        write_layout_manifest(
            spark, path, zorder_signature(cols, dims, bits), ranges,
            numeric_key=True,  # the z-key is an integer by construction
        )


def merge_into_zordered(
    spark,
    old_path: str,
    new_df: DataFrame,
    out_path: str,
    cols: list[str],
    dims: list[ZDim],
    bits: int = DEFAULT_BITS,
    n_buckets: int = 4096,
    max_groups: int = 16,
    max_rows_per_file: int | None = None,
) -> dict:
    """Incremental maintenance of a :func:`write_zordered` layout:
    fold a batch in, rewriting ONLY the files whose Z-range the new
    rows' actual Z-keys touch; untouched files raw-copy (concurrent)
    to the new layout version.

    The Z-key is a pure function of the stored columns, so per-file
    Z-ranges come from the layout's manifest when one matches this
    quantization signature (:func:`zorder_signature`) and otherwise
    from one narrow scan recomputing the key; the merged layout's
    manifest is maintained incrementally either way. Touched files
    are found from the batch's
    Z-KEY DISTRIBUTION (``sources/writers.batch_key_intervals``), not
    its envelope — essential on the Z-curve, where even a batch
    localized in one dimension can have Z-keys scattered across the
    key space (the curve interleaves bits, so locality in a MINOR
    dimension does NOT imply a compact Z-range; the distribution
    intervals prune exactly the files whose ranges the batch's
    scattered Z-clusters actually intersect). A batch localized in the
    LEADING-bit dimensions stays a compact Z-range and touches a
    handful of files of a petabyte layout. Returns the same stats
    dict as ``merge_into_range_sorted``.
    """
    from pyspark.sql import functions as F

    from mydatasyncer_spark.sources.writers import (
        _merge_layout,
        manifest_key_ranges,
    )

    key = zorder_key([F.col(c) for c in cols], dims, bits)
    sig = zorder_signature(cols, dims, bits)
    ranges = manifest_key_ranges(spark, old_path, sig)
    if ranges is None:
        old = spark.read.parquet(old_path)
        ranges = [
            (r["_file"], r["_lo"], r["_hi"])
            for r in old.groupBy(F.input_file_name().alias("_file"))
            .agg(F.min(key).alias("_lo"), F.max(key).alias("_hi"))
            .collect()
        ]
    return _merge_layout(
        spark,
        ranges,
        new_df,
        key,
        out_path,
        "parquet",
        [F.col("_zkey_sort")],
        n_buckets,
        max_groups,
        prep=lambda rows: rows.withColumn("_zkey_sort", key),
        key_sig=sig,
        max_rows_per_file=max_rows_per_file,
    )
