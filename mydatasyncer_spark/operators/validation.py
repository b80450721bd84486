"""Primary-key validation as a distributed dataflow (V1-V5).

The reference runs a mandatory single-pass validator before diff sync
(ref: primary_key_validator.go:57-136): missing column, null/empty
(with a null-token list), duplicates, and format lint (line breaks,
tabs, length cap, untrimmed whitespace). Re-expressed as one
DataFrame pass that attaches a ``reason`` column
(:func:`annotate_issues`), while the report's histogram comes from one
two-level aggregate over the keys (:func:`validate_primary_keys`) —
fully distributed, no driver materialization beyond the 10-row
failure listings.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mydatasyncer_spark.errors import ValidationError
from mydatasyncer_spark.functions.canonical import (
    canonical_col,
    is_nullish,
    sql_ident,
    sql_str,
)
from mydatasyncer_spark.sources.readers import (
    rfc3339_columns,
    rfc3339_probe,
    rfc3339_targets,
)

MAX_KEY_LENGTH = 255  # ref: primary_key_validator.go:37-53
SAMPLE_LIMIT = 10  # ref: primary_key_validator.go:248-263

R_MISSING = "missing_column"
R_NULLISH = "null_or_empty"
R_DUPLICATE = "duplicate"
R_LINEBREAK = "contains_line_break"
R_TAB = "contains_tab"
R_TOO_LONG = "too_long"
R_UNTRIMMED = "untrimmed_whitespace"


def format_issue(key: Column, max_length: int = MAX_KEY_LENGTH) -> Column:
    """First failing format check, or NULL if the key is clean
    (ref: validatePrimaryKeyFormat, primary_key_validator.go:164-185)."""
    s = key.cast("string")
    return (
        F.when(s.rlike(r"[\n\r]"), F.lit(R_LINEBREAK))
        .when(s.contains("\t"), F.lit(R_TAB))
        .when(F.length(s) > max_length, F.lit(R_TOO_LONG))
        .when(F.trim(s) != s, F.lit(R_UNTRIMMED))
    )


def annotate_issues(
    df: DataFrame, primary_key: str, max_length: int = MAX_KEY_LENGTH
) -> DataFrame:
    """Attach ``reason`` (first failing check, NULL = valid) and
    ``is_duplicate``. Check order mirrors the reference: null/empty →
    duplicate → format (ref: primary_key_validator.go:74-118).

    Duplicate detection marks *all later occurrences* of a repeated
    key as invalid while the first-seen row stays valid (first-seen
    map semantics, ref: primary_key_validator.go:96-106) — expressed
    as a row_number window over the canonical key. At scale this is
    one shuffle on the PK, the same partitioning the diff joins use.
    """
    if primary_key not in df.columns:
        return df.withColumn("reason", F.lit(R_MISSING))
    key = F.col(primary_key).cast("string")
    w = Window.partitionBy(key).orderBy(F.monotonically_increasing_id())
    # evaluate the null-token predicate ONCE through a projected
    # column — it embeds a regexp_replace, and inlining it into both
    # the occurrence and the reason expressions doubled the generated
    # code (profiled: the lint CASE + regex stack is ~1s of one-time
    # whole-stage-codegen compile at any scale; per-row cost is small)
    with_null = df.withColumn("_nullish", is_nullish(F.col(primary_key)))
    occurrence = F.when(F.col("_nullish"), F.lit(1)).otherwise(
        F.row_number().over(w)
    )
    return (
        with_null.withColumn("_occ", occurrence)
        .withColumn(
            "reason",
            F.when(F.col("_nullish"), F.lit(R_NULLISH))
            .when(F.col("_occ") > 1, F.lit(R_DUPLICATE))
            .otherwise(format_issue(key, max_length)),
        )
        .drop("_occ", "_nullish")
    )


@dataclass
class ValidationReport:
    """Counts + per-reason histogram + duplicate keys + samples
    (ref: ReportValidationFailure, primary_key_validator.go:188-270)."""

    total: int
    invalid: int
    by_reason: dict[str, int] = field(default_factory=dict)
    duplicate_keys: list[tuple[str, int]] = field(default_factory=list)
    samples: list[dict] = field(default_factory=list)
    #: string columns whose every non-NULL value is RFC3339 (some
    #: non-NULL) — what ``coerce_rfc3339`` would convert; None unless
    #: the validation was asked to probe
    rfc3339_columns: list[str] | None = None

    @property
    def valid(self) -> int:
        return self.total - self.invalid

    def summary(self) -> str:
        lines = [
            f"validated {self.total} records: {self.valid} valid, "
            f"{self.invalid} invalid"
        ]
        for reason, n in sorted(self.by_reason.items()):
            lines.append(f"  - {reason}: {n}")
        if self.duplicate_keys:
            lines.append(f"  duplicate keys ({len(self.duplicate_keys)}):")
            for key, n in self.duplicate_keys[:SAMPLE_LIMIT]:
                lines.append(f"    {key!r} x{n}")
        return "\n".join(lines)


def validate_primary_keys(
    df: DataFrame,
    primary_key: str,
    strict: bool = True,
    max_length: int = MAX_KEY_LENGTH,
    probe_rfc3339: bool = False,
) -> ValidationReport:
    """Run the validator; in strict mode raise on any invalid record
    (ref: ValidateAllRecords, primary_key_validator.go:57-136).

    The histogram is one two-level aggregate, equal to the one
    :func:`annotate_issues` implies: per string-cast key, ``n`` rows;
    then ``total`` = Σn, ``null_or_empty`` = Σn over nullish keys,
    ``duplicate`` = Σ(n−1) over the rest (every occurrence after the
    first), and each format reason counts the non-nullish keys it hits
    (format depends only on the key, and only a key's first occurrence
    reaches the format check). Clean input runs nothing else; the
    duplicate-key and sample listings run only when ``invalid > 0``.
    Samples are ordered by (reason, canonical key) before the limit so
    the report is deterministic; nullish keys are never listed as
    duplicate keys (the reference's first-seen map holds only
    non-null keys, ref: primary_key_validator.go:96-106).

    With ``probe_rfc3339`` the same aggregate also answers
    ``coerce_rfc3339``'s probe for every string column of ``df`` (its
    first level folds each column's partial probe per key, the global
    level merges them) into :attr:`ValidationReport.rfc3339_columns`,
    so a caller that coerces after validating scans once, not twice.
    The report describes ``df`` as given: a caller whose PK column
    coerces must validate the coerced frame, where two spellings of
    one instant are one key.
    """
    has_key = primary_key in df.columns
    targets = rfc3339_targets(df) if probe_rfc3339 else []
    if not has_key:
        row = df.agg(
            F.count(F.lit(1)).alias("total"), *rfc3339_probe(targets)
        ).first()
        total = row["total"]
        by_reason = {R_MISSING: total} if total else {}
    else:
        per_key = df.groupBy(
            F.col(primary_key).cast("string").alias("key")
        ).agg(F.count(F.lit(1)).alias("n"), *rfc3339_probe(targets))
        per_key = per_key.withColumns(
            {
                "_nullish": is_nullish(F.col("key")),
                "_issue": format_issue(F.col("key"), max_length),
            }
        )
        clean = ~F.col("_nullish")

        def total_of(value: str, name: str) -> Column:
            return F.expr(
                f"CAST(coalesce(sum({value}), 0) AS BIGINT)"
            ).alias(name)

        fmt_reasons = [R_LINEBREAK, R_TAB, R_TOO_LONG, R_UNTRIMMED]
        row = per_key.agg(
            total_of("n", "total"),
            total_of("CASE WHEN _nullish THEN n END", R_NULLISH),
            total_of("CASE WHEN NOT _nullish THEN n - 1 END", R_DUPLICATE),
            *[
                total_of(
                    f"CASE WHEN NOT _nullish AND _issue = '{r}' THEN 1 END", r
                )
                for r in fmt_reasons
            ],
            *rfc3339_probe(targets, merge=True),
        ).first()
        total = row["total"]
        by_reason = {
            r: row[r]
            for r in [R_NULLISH, R_DUPLICATE, *fmt_reasons]
            if row[r]
        }
    invalid = sum(by_reason.values())
    dup_rows, samples = [], []
    if invalid:
        if has_key:
            dup_rows = (
                per_key.filter((F.col("n") > 1) & clean)
                .orderBy(F.desc("n"), "key")
                .limit(SAMPLE_LIMIT)
                .collect()
            )
        annotated = annotate_issues(df, primary_key, max_length)
        order = [F.col("reason")]
        if has_key:
            order.append(canonical_col(df, primary_key))
        samples = (
            annotated.filter(F.col("reason").isNotNull())
            .orderBy(*order)
            .limit(SAMPLE_LIMIT)
            .collect()
        )
    report = ValidationReport(
        total=total,
        invalid=invalid,
        by_reason=by_reason,
        duplicate_keys=[(r["key"], r["n"]) for r in dup_rows],
        samples=[r.asDict() for r in samples],
        rfc3339_columns=(
            rfc3339_columns(row, targets) if probe_rfc3339 else None
        ),
    )
    if strict and invalid:
        raise ValidationError(report.summary(), report)
    return report


def profile_columns(df: DataFrame, columns: list[str]) -> DataFrame:
    """Per-column data profile: one row per column with null count,
    distinct count, and min/max (as strings, for a uniform schema).

    Two aggregation shapes, one action (r14). The count/null/min/max
    stats run as ONE ungrouped aggregate (keys-empty aggregation never
    sorts, whatever the buffer types), stack-unpivoted to a row per
    column. Each distinct count runs as its OWN column-pruned
    ``count(DISTINCT c)`` subtree, unioned to ``(column_name,
    n_distinct)`` and broadcast-joined back. A single combined
    aggregate — the previous shape — forces the multi-DISTINCT Expand
    rewrite: rows duplicated (columns+1)-fold, then deduplicated
    through a SORT aggregate (the min/max string buffers bar hash
    aggregation) over a full-width exchange. Split, every subtree
    hash-aggregates with map-side partials, and the per-column scans
    together read exactly the bytes the fused scan did (columnar
    pruning). The engine-side twin of a warehouse's ANALYZE: feed it
    the columns you are about to join or partition on, and read skew
    (distinct count vs rows) and null discipline off the result.
    """
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in columns:
        col = F.col(sql_ident(c))  # exact-name resolution, any characters
        aggs.extend(
            [
                F.sum(F.when(col.isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias(f"_nulls_{c}"),
                F.min(col).cast("string").alias(f"_min_{c}"),
                F.max(col).cast("string").alias(f"_max_{c}"),
            ]
        )
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"{sql_str(c)}, _rows, {sql_ident('_nulls_' + c)},"
        f" {sql_ident('_min_' + c)}, {sql_ident('_max_' + c)}"
        for c in columns
    )
    base = one.selectExpr(
        f"stack({len(columns)}, {stack_args}) AS "
        "(column_name, n_rows, n_nulls, min_val, max_val)"
    )
    nd = None
    for c in columns:
        leg = df.agg(
            F.countDistinct(F.col(sql_ident(c))).alias("n_distinct")
        ).select(F.lit(c).alias("column_name"), "n_distinct")
        nd = leg if nd is None else nd.unionAll(leg)
    # left join (not inner): keeps the n_distinct column nullable, so
    # the output schema is identical to the fused-aggregate original.
    # Every leg always yields exactly one row (ungrouped aggregate),
    # so the join itself never drops or nulls anything.
    return base.join(F.broadcast(nd), "column_name", "left").select(
        "column_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val"
    )


def column_entropy(df: DataFrame, columns: list[str]) -> DataFrame:
    """Shannon entropy (bits) + distinct count per column, one row per
    column: ``(column_name, n_rows, n_distinct, entropy_bits)``.

    The profiler's information-theoretic sibling: entropy ~= log2(nd)
    means near-uniform values (a good join/partition key), entropy
    near 0 means a degenerate column whose shuffle would collapse onto
    a handful of reducers. Plan: one ``stack`` unpivot fused into the
    scan, then ONE aggregation keyed on (column, value) with map-side
    partial counts — a single shuffle for every column profiled.
    Entropy is rounded to 6 dp so double summation order (engine- and
    partitioning-dependent at ~1e-13 relative) can never leak into a
    cross-engine comparison. NULL is counted as a regular value, like
    ``groupBy`` treats it.
    """

    pairs = ", ".join(
        f"{sql_str(c)}, CAST({sql_ident(c)} AS STRING)" for c in columns
    )
    unpivoted = df.selectExpr(
        f"stack({len(columns)}, {pairs}) AS (column_name, value)"
    )
    counts = unpivoted.groupBy("column_name", "value").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_col = counts.groupBy("column_name").agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum(F.col("c") * F.log2("c")).alias("_clogc"),
    )
    return per_col.select(
        "column_name",
        "n_rows",
        "n_distinct",
        F.round(
            F.log2("n_rows") - F.col("_clogc") / F.col("n_rows"), 6
        ).alias("entropy_bits"),
    )


def mutual_information(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Mutual information I(A;B) in bits, one output row:
    ``(h_a, h_b, h_ab, mi_bits)`` — via H(A) + H(B) - H(A,B) computed
    from ONE joint (a, b) aggregation (the marginals re-aggregate the
    joint table, which is at most |A|x|B| rows, never the input).

    The dependency detector behind join planning: I(A;B) ~= H(B)
    means A functionally determines B (B is derivable — don't shuffle
    on both); I ~= 0 means independent columns. Same 6-dp rounding
    contract as :func:`column_entropy`. NULLs count as regular values.
    """
    joint = (
        df.select(
            F.col(col_a).cast("string").alias("_a"),
            F.col(col_b).cast("string").alias("_b"),
        )
        .groupBy("_a", "_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    joint = joint.localCheckpoint(eager=True)  # three consumers below

    def h_of(group_cols: list[str]):
        g = joint.groupBy(*group_cols).agg(F.sum("c").alias("c"))
        return g.agg(
            F.sum("c").cast("double").alias("n"),
            F.sum(F.col("c") * F.log2("c")).alias("s"),
        ).select((F.log2("n") - F.col("s") / F.col("n")).alias("h"))

    h_ab = joint.agg(
        F.sum("c").cast("double").alias("n"),
        F.sum(F.col("c") * F.log2("c")).alias("s"),
    ).select((F.log2("n") - F.col("s") / F.col("n")).alias("h"))
    h_a, h_b = h_of(["_a"]), h_of(["_b"])
    return (
        h_a.select(F.col("h").alias("_ha"))
        .crossJoin(h_b.select(F.col("h").alias("_hb")))
        .crossJoin(h_ab.select(F.col("h").alias("_hab")))
        .select(
            F.round("_ha", 6).alias("h_a"),
            F.round("_hb", 6).alias("h_b"),
            F.round("_hab", 6).alias("h_ab"),
            F.round(
                F.col("_ha") + F.col("_hb") - F.col("_hab"), 6
            ).alias("mi_bits"),
        )
    )
