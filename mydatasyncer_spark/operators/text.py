"""Text-analysis operators for training-data pipelines (SURVEY.md §7 M4).

All pure Column expressions (JVM-side, codegen-friendly) — language
ID, quality scoring, token counting, and document fingerprinting run
inside the scan stage with zero shuffles, so they cost one pass over
100 TB regardless of cluster size.

Each operator has an exact DuckDB-SQL twin in ``__spark_entry__``;
determinism notes:
- tokenization = lowercase split on ``[^a-z0-9]+`` with empties
  removed — identical in both engines;
- scores are rounded to 6 dp after arithmetic on exact counts, so
  both engines compute identical doubles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from mydatasyncer_spark.functions.hashing import hash48

TOKEN_SPLIT_RE = "[^a-z0-9]+"

# Tiny per-language stopword lists for the n-gram/stopword-hit
# language-ID heuristic. Order matters: ties break by list order.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "you", "that"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ich", "ein", "zu", "mit"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "una"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "du", "est", "pour"],
    "zh": ["de", "shi", "bu", "le", "ren", "wo", "ta", "zhe", "men", "lai"],
}


def tokens(col: Column) -> Column:
    """Lowercased alphanumeric tokens, empties removed."""
    return F.array_remove(F.split(F.lower(col), TOKEN_SPLIT_RE), "")


def token_count(col: Column) -> Column:
    """Regex-token count (the BPE-ish proxy)."""
    return F.size(tokens(col))


def whitespace_token_count(col: Column) -> Column:
    """Plain whitespace token count."""
    return F.size(F.array_remove(F.split(F.trim(col), r"\s+"), ""))


def char_count(col: Column) -> Column:
    return F.length(col)


def distinct_token_ratio(col: Column) -> Column:
    """Lexical diversity: distinct tokens / tokens (unrounded — round
    at the query edge so oracles can compose the raw value)."""
    t = tokens(col)
    return F.size(F.array_distinct(t)).cast("double") / F.greatest(
        F.size(t), F.lit(1)
    ).cast("double")


def special_char_ratio(col: Column) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    cleaned = F.regexp_replace(F.lower(col), "[a-z0-9 ]", "")
    return F.length(cleaned).cast("double") / F.greatest(
        F.length(col), F.lit(1)
    ).cast("double")


def quality_score(col: Column) -> Column:
    """Composite quality heuristic in [0, 1]:
    0.3·length-saturation + 0.4·(1 − special-char ratio)
    + 0.3·lexical diversity. Deliberately simple and exactly
    SQL-replicable; a real pipeline would tune the mix."""
    length_sat = F.least(F.length(col).cast("double") / F.lit(500.0), F.lit(1.0))
    return (
        F.lit(0.3) * length_sat
        + F.lit(0.4) * (F.lit(1.0) - special_char_ratio(col))
        + F.lit(0.3) * distinct_token_ratio(col)
    )


def lang_scores(col: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts over distinct tokens."""
    t = F.array_distinct(tokens(col))
    return {
        lang: F.size(F.array_intersect(t, F.array(*[F.lit(w) for w in sw])))
        for lang, sw in LANG_STOPWORDS.items()
    }


def lang_id(col: Column) -> Column:
    """Predicted language: argmax of stopword hits, ties broken by
    ``LANG_STOPWORDS`` key order, 'und' (undetermined) when no hits."""
    scores = lang_scores(col)
    langs = list(scores)
    # argmax via a descending fold: later entries win only on strictly
    # greater score, so earlier keys take ties.
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in langs:
        is_better = scores[lang] > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, scores[lang]).otherwise(best_score)
    return best_lang


def normalize_text(col: Column) -> Column:
    """Dedup normalization: lowercase, collapse whitespace, strip."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint64(col: Column) -> Column:
    """Deterministic document fingerprint of the normalized text
    (rolling-hash equivalent; md5-derived so oracles can reproduce)."""
    return hash48(normalize_text(col))


ROLLING_PRIME = 1_000_000_007
ROLLING_BASE = 31


def rolling_fingerprint(col: Column) -> Column:
    """True polynomial rolling hash of the normalized text:
    ``h = (h * 31 + codepoint) mod 1e9+7``, folded JVM-side with
    ``aggregate`` over the character array — no UDF, and exactly
    reproducible in any engine with a list-reduce (the DuckDB oracle
    folds the identical recurrence). Intermediate values stay below
    31 * (p-1) + codepoint < 2^35, so 64-bit arithmetic never
    overflows in either engine."""
    norm = normalize_text(col)
    codes = F.filter(F.split(norm, ""), lambda c: c != F.lit(""))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * ROLLING_BASE + F.ascii(c)) % ROLLING_PRIME,
    )


def word_ngrams(tok: Column, n: int = 3) -> Column:
    """Array of space-joined word ``n``-grams over a token array.

    Inline-SAFE (r14): ``tok`` is bound ONCE per row as a lambda
    variable (the one-element ``transform(array(tok), t -> …)``
    wrapper), so even when the optimizer substitutes a whole
    ``tokens(text)`` expression tree for ``tok`` — which predicate
    pushdown through the annotate projection does — the tokenization
    runs once per row, never once per gram. Before the fix, a
    filter on ``repetition`` re-tokenized each document per array
    element (measured 2.0 s → 0.8 s for one inlined evaluation at
    sf0.1; the curation gate evaluated several inlined copies).
    Documents with fewer than ``n`` tokens yield one whole-document
    gram (so every doc has ≥1 gram and ratios never divide by
    zero)."""

    def per(t: Column) -> Column:
        return F.when(
            F.size(t) < n, F.array(F.concat_ws(" ", t))
        ).otherwise(
            F.transform(
                F.sequence(F.lit(0), F.size(t) - F.lit(n)),
                lambda i: F.concat_ws(" ", F.slice(t, i + F.lit(1), n)),
            )
        )

    return F.element_at(F.transform(F.array(tok), per), 1)


def repetition_ratio(gram_col: Column) -> Column:
    """Repetition quality signal: 1 − distinct-grams / grams. High
    values flag boilerplate / degenerate generations — a standard
    training-data filter. Pure array math over an already-built gram
    array (unrounded; round at the query edge)."""
    return F.lit(1.0) - F.size(F.array_distinct(gram_col)).cast(
        "double"
    ) / F.greatest(F.size(gram_col), F.lit(1)).cast("double")


def char_shingles(col: Column, n: int = 5) -> Column:
    """Array of character n-grams of ``col``; strings shorter than
    ``n`` yield one whole-string shingle.

    Callers normalize first and MUST pass a projected attribute (a
    real column), not an expression tree: anything referenced inside
    the ``transform`` lambda is re-evaluated once per array element,
    so an embedded ``normalize_text(...)`` would run its regex per
    shingle instead of per document."""
    return F.when(F.length(col) < n, F.array(col)).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(col) - F.lit(n - 1)),
            lambda i: F.substring(col, i, F.lit(n)),
        )
    )


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 512,
    overlap: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size character chunks with overlap —
    the standard pre-embedding/RAG shape.

    Chunk k starts at ``k * (chunk_size - overlap)`` (0-based); the
    last chunk may be short; a document shorter than one chunk yields
    exactly one chunk. All JVM-side: a ``sequence`` of start offsets
    fans out via ``explode`` (one shuffle-free projection — the row
    explosion is ~len/stride per doc, the same fan-out class as
    shingling, so repartition beforehand for parallelism on few
    files), and ``substring`` slices each chunk.

    Output: (id, chunk_id, start_offset, chunk_text) with 0-based
    ``chunk_id``/``start_offset`` and 1-based slicing internally.
    """
    if overlap >= chunk_size:
        raise ValueError(
            f"overlap ({overlap}) must be smaller than chunk_size "
            f"({chunk_size})"
        )
    stride = chunk_size - overlap
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil(
            (F.length(F.col(text_col)) - F.lit(overlap))
            / F.lit(float(stride))
        ).cast("int"),
    )
    starts = F.sequence(F.lit(0), n_chunks - 1)
    return (
        df.select(
            F.col(id_col),
            F.col(text_col).alias("_t"),
            F.explode(starts).alias("chunk_id"),
        )
        .select(
            id_col,
            "chunk_id",
            (F.col("chunk_id") * stride).alias("start_offset"),
            F.substring(
                F.col("_t"), F.col("chunk_id") * stride + 1, chunk_size
            ).alias("chunk_text"),
        )
    )


def chunk_documents_by_tokens(
    df: DataFrame,
    chunk_tokens: int = 256,
    overlap_tokens: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-budget chunking: split on whitespace tokens into windows
    of ``chunk_tokens`` with ``overlap_tokens`` shared between
    neighbors — the form a packing/embedding stage with a token budget
    consumes (char chunks can split mid-word; token chunks can't).

    Same JVM-side shape as :func:`chunk_documents` — sequence fan-out
    + array ``slice`` (1-based), zero UDFs. Output: (id, chunk_id,
    start_token, n_tokens, chunk_text) with 0-based chunk ids and
    token offsets.
    """
    if overlap_tokens >= chunk_tokens:
        raise ValueError(
            f"overlap_tokens ({overlap_tokens}) must be smaller than "
            f"chunk_tokens ({chunk_tokens})"
        )
    stride = chunk_tokens - overlap_tokens
    toked = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_t")
    )
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil(
            (F.size("_t") - F.lit(overlap_tokens)) / F.lit(float(stride))
        ).cast("int"),
    )
    sliced = toked.select(
        id_col,
        "_t",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    ).select(
        id_col,
        "chunk_id",
        (F.col("chunk_id") * stride).alias("start_token"),
        F.slice(
            F.col("_t"), F.col("chunk_id") * stride + 1, chunk_tokens
        ).alias("_c"),
    )
    return sliced.select(
        id_col,
        "chunk_id",
        "start_token",
        F.size("_c").alias("n_tokens"),
        F.concat_ws(" ", "_c").alias("chunk_text"),
    )


def remove_repeated_segments(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = " | ",
    min_repeat: int = 3,
):
    """C4/CCNet-style boilerplate removal: drop every text segment
    that occurs in ``min_repeat`` or more DISTINCT documents (nav
    bars, cookie banners, license footers — the lines that repeat
    verbatim across a crawl), keeping each document's remaining
    segments in their original order.

    Returns ``(id_col, clean_text, n_kept, n_dropped)``.

    Scale shape: segments explode once; the distinct + frequency
    aggregation + filter join all hash-partition on the segment, so
    Spark reuses ONE exchange across the three; the re-assembly is one
    shuffle back on the document id. Segment frequency is corpus-wide
    exact counting — the same plan as word-count, at any corpus size.
    """
    import re as _re

    segs = df.select(
        F.col(id_col),
        F.posexplode(
            # split() takes a REGEX — escape the literal separator
            F.split(F.col(text_col), _re.escape(sep), -1)
        ).alias("pos", "seg"),
    )
    # distinct + count, NOT a window over seg: a boilerplate segment's
    # partition holds its every corpus-wide occurrence, so windowing
    # would buffer the hottest key in one task while groupBy's
    # map-side partial aggregation absorbs it
    freq = (
        segs.select("seg", id_col)
        .distinct()
        .groupBy("seg")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_n_docs"))
    )
    tagged = segs.join(freq, "seg")
    keep = F.col("_n_docs") < min_repeat
    # every document has >= 1 segment, so one conditional aggregation
    # covers kept, dropped, AND fully-boilerplate documents — no
    # join-back to the input (collect_list skips the NULL entries of
    # dropped segments; concat_ws of an empty array is "")
    return tagged.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(keep, F.struct(F.col("pos"), F.col("seg")))
                    )
                ),
                lambda s: s["seg"],
            ),
        ).alias("clean_text"),
        F.sum(F.when(keep, 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.when(keep, 0).otherwise(1))
        .cast("bigint")
        .alias("n_dropped"),
    )


def unigram_logprob_table(
    df, text_col: str = "text", alpha: float = 1.0, min_count: int = 1
):
    """Corpus unigram language model as a (tok, logp) table with
    add-``alpha`` smoothing — two aggregates over one token explode.

    ``min_count > 1`` applies the CCNet-style vocabulary cut: only
    tokens seen at least ``min_count`` times keep their own row, and
    everything below the cut collapses into a single out-of-vocabulary
    bucket, emitted as a row with ``tok IS NULL`` (NULL never equi-
    joins, so it can't collide with a real token). With a cut of V
    vocab tokens over N total tokens the event space is V + 1 symbols:
    ``logp(tok) = ln((c + α) / (N + α(V+1)))`` and the OOV bucket
    carries the aggregate count of all cut tokens. ``min_count <= 1``
    keeps every token (no OOV row, denominator ``N + αV``).

    The open-vocabulary table of a web-scale corpus runs to billions
    of rows, so nothing here forces a broadcast — consumers join it
    like any table and let the optimizer pick the strategy; the cut
    is what actually makes the model small.

    A stored table is a FROZEN trained artifact (the
    :func:`unigram_perplexity` ``model=`` path scores new batches
    against it), so it drifts like every other frozen artifact.
    Run-retrain-when contract: persist :func:`unigram_baseline` next
    to the table at training time and monitor with
    :func:`unigram_drift_report` — retrain (re-run this function on
    current data) and re-baseline when the report's ``psi`` exceeds
    ~0.2 sustained or ``oov_fraction`` rises well past the baseline's
    (the leading indicator: token mass falling out of the frozen
    vocabulary inflates perplexity before the distribution visibly
    moves)."""
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    a = F.lit(float(alpha))
    if min_count <= 1:
        totals = counts.agg(
            F.sum("c").cast("double").alias("_n"),
            F.count(F.lit(1)).cast("double").alias("_v"),
        )
        return counts.crossJoin(F.broadcast(totals)).select(
            "tok",
            F.log((F.col("c") + a) / (F.col("_n") + a * F.col("_v"))).alias(
                "logp"
            ),
        )
    in_vocab = F.col("c") >= min_count
    totals = counts.agg(
        F.sum("c").cast("double").alias("_n"),
        F.sum(F.when(in_vocab, F.col("c")).otherwise(0))
        .cast("double")
        .alias("_vc"),
        F.sum(F.when(in_vocab, 1).otherwise(0)).cast("double").alias("_v"),
    )
    denom = F.col("_n") + a * (F.col("_v") + 1)
    vocab = counts.filter(in_vocab).crossJoin(F.broadcast(totals)).select(
        "tok", F.log((F.col("c") + a) / denom).alias("logp")
    )
    oov = totals.select(
        F.lit(None).cast("string").alias("tok"),
        F.log((F.col("_n") - F.col("_vc") + a) / denom).alias("logp"),
    )
    return vocab.unionByName(oov)


def unigram_perplexity(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    model=None,
    min_count: int = 1,
    oov: bool | None = None,
):
    """Per-document perplexity under a unigram LM (CCNet-style quality
    scoring: gibberish and boilerplate-light text score far from the
    corpus mode). ``model`` defaults to the corpus's own
    :func:`unigram_logprob_table`; pass a stored table to score new
    batches against a frozen reference model (set ``oov`` to say
    whether that table carries a NULL-token OOV bucket; default:
    inferred from ``min_count``).

    Plan: one token explode, one equi join against the vocab table,
    one per-doc aggregate — no shuffle wider than (doc, token). The
    vocab join is deliberately NOT hint-broadcast: an open-vocabulary
    table over web-scale text is unbounded, and a forced hint would
    remove Spark's ability to fall back to a shuffle join (AQE still
    broadcasts genuinely small/cut vocabularies at runtime).
    Perplexity is rounded to 6 dp so double-summation order cannot
    leak into cross-engine comparison. Documents with zero in-model
    tokens drop out (perplexity undefined).
    """
    if oov is None:
        oov = min_count > 1
    if model is None:
        model = unigram_logprob_table(df, text_col, alpha, min_count)
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    if not oov:
        joined = toks.join(model, "tok")
        return joined.groupBy(id_col).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.exp(-F.avg("logp")), 6).alias("perplexity"),
        )
    # OOV path: vocab rows equi-join; the single NULL-token bucket row
    # rides a 1-row aggregate (never empty) cross-joined in, so cut
    # tokens coalesce onto the bucket's logp.
    vocab = model.filter(F.col("tok").isNotNull())
    bucket = model.filter(F.col("tok").isNull()).agg(
        F.max("logp").alias("_oov_logp")
    )
    scored = toks.join(vocab, "tok", "left").crossJoin(F.broadcast(bucket))
    lp = F.coalesce(F.col("logp"), F.col("_oov_logp"))
    return scored.groupBy(id_col).agg(
        F.count(lp).cast("bigint").alias("n_tokens"),
        F.round(F.exp(-F.avg(lp)), 6).alias("perplexity"),
    )


def _model_has_oov(model) -> bool:
    """Whether a stored logprob table carries the NULL-token OOV
    bucket (i.e. was built with ``min_count > 1``) — one bounded
    probe, so report callers need not thread the flag by hand."""
    return (
        model.filter(F.col("tok").isNull()).limit(1).count() > 0
    )


def _oov_token_fraction(df, model, text_col: str) -> tuple[float, int]:
    """(fraction of token occurrences outside the frozen vocabulary,
    total tokens) — one explode + ONE left join + one aggregate
    (total and OOV counted together; the vocab side is de-duplicated
    defensively so a malformed model cannot fan the join out). For
    an open-vocabulary model (no OOV bucket) "outside" means absent
    from the table; for a cut model the NULL-bucket row never
    equi-joins, so the same left join measures mass falling into the
    bucket."""
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
    vocab = (
        model.filter(F.col("tok").isNotNull())
        .select("tok")
        .distinct()
        .withColumn("_in", F.lit(1))
    )
    row = (
        toks.join(vocab, "tok", "left")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(
                F.when(F.col("_in").isNull(), 1).otherwise(0)
            ).alias("_oov"),
        )
        .first()
    )
    n = int(row["_n"])
    return (int(row["_oov"] or 0) / n if n else 0.0, n)


def _ppl_frame(df, model, text_col: str, id_col: str, oov: bool):
    """The per-document perplexity frame, materialized ONCE
    (localCheckpoint) so edges, histogram, and doc count are tiny
    aggregates over doc-level rows instead of repeated corpus
    scoring passes."""
    return unigram_perplexity(
        df, text_col=text_col, id_col=id_col, model=model, oov=oov
    ).localCheckpoint(eager=True)


def _hist_from_ppl(
    ppl, lo: float, hi: float, n_bins: int
) -> tuple[list[float], int]:
    """ln(perplexity) binned into ``n_bins`` equal-width bins over
    [lo, hi] (outliers clamp into the end bins, so a drifted corpus
    piles mass there instead of vanishing). Returns
    (fractions, n_docs)."""
    width = (hi - lo) / n_bins if hi > lo else 1.0
    b = F.least(
        F.greatest(
            F.floor((F.log("perplexity") - F.lit(lo)) / F.lit(width)),
            F.lit(0),
        ),
        F.lit(n_bins - 1),
    ).cast("int")
    rows = (
        ppl.select(b.alias("_b"))
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_c"))
        .collect()
    )
    total = sum(int(r["_c"]) for r in rows)
    hist = [0.0] * n_bins
    for r in rows:
        hist[int(r["_b"])] = int(r["_c"]) / total if total else 0.0
    return hist, total


def unigram_baseline(
    df,
    model,
    n_bins: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """The training-time artifact :func:`unigram_drift_report`
    compares against — persist it next to the frozen logprob table
    (the :func:`~mydatasyncer_spark.operators.classify.
    score_histogram` convention, on the LM axis). Records the
    ln(perplexity) distribution of the TRAINING corpus under its own
    model — bin edges (min/max) plus per-bin fractions — and the
    corpus's OOV token-mass fraction under the frozen vocabulary
    (≈ 0 for an open-vocabulary model scoring its own corpus; the
    cut-mass fraction for a ``min_count > 1`` model).

    Cost shape: ONE corpus scoring pass (the per-document perplexity
    frame is checkpointed; edges and histogram are tiny aggregates
    over its doc-level rows) + ONE token-explode join for the OOV
    signal + a limit-1 probe of the model frame; ``n_bins + 4``
    numbers come back."""
    oov = _model_has_oov(model)
    ppl = _ppl_frame(df, model, text_col, id_col, oov)
    edges = ppl.agg(
        F.min(F.log("perplexity")).alias("_lo"),
        F.max(F.log("perplexity")).alias("_hi"),
    ).first()
    if edges["_lo"] is None:
        raise ValueError(
            "unigram_baseline: no document has any in-model token — "
            "a baseline of nothing is not a distribution"
        )
    lo, hi = float(edges["_lo"]), float(edges["_hi"])
    hist, n_docs = _hist_from_ppl(ppl, lo, hi, n_bins)
    oov_frac, _ = _oov_token_fraction(df, model, text_col)
    return {
        "lo": lo,
        "hi": hi,
        "hist": hist,
        "oov_fraction": oov_frac,
        "docs": n_docs,
    }


#: metadata key carrying the training-time baseline on a persisted
#: logprob table (the quality_model_frame convention on the LM axis)
_UNI_BASE_KEY = "unigram_baseline_json"


def unigram_model_frame(model, baseline: dict):
    """A persisted-ready logprob table with its drift BASELINE riding
    ``tok``-column metadata into the parquet footer — so the
    model/baseline pairing can never be mismatched by hand-threading
    (the :func:`~mydatasyncer_spark.operators.classify.
    quality_model_frame` convention on the LM axis). Persist per
    retrain with :func:`~mydatasyncer_spark.operators.maintenance.
    write_model_store` (the ``_SUCCESS``-gated staged swap — safe
    even for the re-baseline flow, where the rewrite input derives
    from the stored table itself). Honesty note on
    the trust model: unlike the driver-sized weights/merge stores,
    an open-vocabulary logprob table can run to billions of rows, so
    NO content fingerprint is recorded (recomputing one per read
    would be a corpus scan) — the baseline rides the same frame for
    pairing, row integrity is the storage layer's job, the same
    trust model as the signature index itself."""
    import json

    return model.select(
        F.col("tok").alias(
            "tok",
            metadata={
                _UNI_BASE_KEY: json.dumps(
                    {
                        "lo": float(baseline["lo"]),
                        "hi": float(baseline["hi"]),
                        "hist": [float(x) for x in baseline["hist"]],
                        "oov_fraction": float(baseline["oov_fraction"]),
                        "docs": int(baseline["docs"]),
                    }
                )
            },
        ),
        "logp",
    )


def recorded_unigram_baseline(model) -> dict:
    """Resolve the training-time baseline a :func:`unigram_model_frame`
    store records — resolve-and-refuse: a table recording none raises
    (drift against a hand-guessed baseline reports nonsense, the
    hazard the self-describing stores exist to close)."""
    import json

    if "tok" not in model.columns:
        raise ValueError(
            "recorded_unigram_baseline: not a logprob table — "
            "expected a 'tok' column"
        )
    raw = model.schema["tok"].metadata.get(_UNI_BASE_KEY)
    if raw is None:
        raise ValueError(
            "recorded_unigram_baseline: the table records no "
            "baseline — rewrite it with unigram_model_frame(model, "
            "unigram_baseline(...)) or pass baseline= explicitly"
        )
    return json.loads(raw)


def unigram_drift_report(
    df,
    model,
    baseline: dict | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """The unigram LM's member of the decision-signal family
    (jaccard → order, IVF → centroids, PQ → codebooks, classifier →
    weights, BPE → merges, this → the frozen VOCABULARY and its
    logprobs): how differently today's corpus scores under the frozen
    table than the training corpus did. Two signals, one bounded pass
    each:

    - ``oov_fraction`` vs the baseline's (``oov_shift`` is the
      difference) — the LEADING indicator: token mass falling out of
      the frozen vocabulary (new domain, language mix, jargon)
      inflates perplexity before the distribution visibly moves, and
      for a cut model it is exactly the mass landing in the OOV
      bucket's single smoothed logprob — where scoring is least
      informative. One token-explode join + one aggregate.
    - ``psi`` — Population Stability Index of the ln(perplexity)
      distribution over the baseline's recorded bins (same metric and
      clamp as :func:`~mydatasyncer_spark.operators.classify.
      score_drift_report`; outliers clamp into the end bins, so
      drifted mass is counted, not dropped). One corpus scoring pass
      (the per-document frame is checkpointed; the histogram is a
      doc-level aggregate over it).

    Run-retrain-when: retrain + re-baseline when ``psi`` > ~0.2
    sustained or ``oov_shift`` rises by more than a few points; after
    retraining on current data the report returns to ~0 — the
    fixpoint the tests pin. Refuses a frame with no scorable
    documents (the family's empty-input convention). ``baseline``
    left ``None`` resolves from the model frame's own recorded
    baseline (:func:`unigram_model_frame`) and refuses a table
    recording none."""
    import math

    if baseline is None:
        baseline = recorded_unigram_baseline(model)
    n_bins = len(baseline["hist"])
    if n_bins < 2:
        raise ValueError(
            "unigram_drift_report: baseline must have >= 2 bins"
        )
    oov = _model_has_oov(model)
    hist, n_docs = _hist_from_ppl(
        _ppl_frame(df, model, text_col, id_col, oov),
        float(baseline["lo"]),
        float(baseline["hi"]),
        n_bins,
    )
    if n_docs == 0:
        raise ValueError(
            "unigram_drift_report: no document has any in-model "
            "token — drift of nothing would report a spurious "
            "retrain signal"
        )
    eps = 1e-4  # the standard PSI zero-bin clamp
    psi = sum(
        (c - b) * math.log(max(c, eps) / max(b, eps))
        for c, b in zip(hist, baseline["hist"])
    )
    oov_frac, _ = _oov_token_fraction(df, model, text_col)
    return {
        "psi": psi,
        "histogram": hist,
        "baseline_hist": list(baseline["hist"]),
        "oov_fraction": oov_frac,
        "baseline_oov_fraction": float(baseline["oov_fraction"]),
        "oov_shift": oov_frac - float(baseline["oov_fraction"]),
        "docs": n_docs,
        "max_bin_shift": max(
            abs(c - b) for c, b in zip(hist, baseline["hist"])
        ),
    }
