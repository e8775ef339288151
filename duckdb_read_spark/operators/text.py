"""Text-analysis operators for training-data pipelines (SURVEY §2.1 L4).

All pure JVM-side expressions (no Python UDFs in any hot path): language-ID
scoring, quality scoring, token counting (whitespace + BPE-ish regex), and
rolling-hash document fingerprinting. Each has an oracle-checkable SQL twin
in queries.py (EXTRA_* entries) so the semantics are pinned cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language marker lists for the n-gram/stopword heuristic. The
# fixture corpus is synthetic; the *mechanism* (marker-hit-ratio argmax) is
# what the operator pins down, the lists are swappable.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "es": ("el", "la", "los", "las", "que", "de", "es", "con"),
    "fr": ("le", "la", "les", "et", "est", "que", "des", "une"),
    "zh": ("de", "shi", "le", "bu", "zai", "you", "wo", "ta"),
}

# BPE-ish word/number/punctuation splitter: runs of letters, runs of
# digits, or a single non-space symbol — a common pre-tokenization regex.
BPE_TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

FINGERPRINT_MOD = 1_000_000_007
FINGERPRINT_BASE = 31


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def token_count(df: DataFrame, text_col: str = "text", out: str = "n_tokens") -> DataFrame:
    return df.withColumn(out, F.size(tokens(F.col(text_col))))


def bpe_token_count(df: DataFrame, text_col: str = "text", out: str = "n_bpe_tokens") -> DataFrame:
    """Token count under the BPE-ish pre-tokenization regex."""
    # idx=0 → whole match (Spark defaults to capture group 1, DuckDB to 0).
    return df.withColumn(
        out, F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_RE), F.lit(0)))
    )


def _marker_ratio_sql(text_col: str, markers: tuple[str, ...]) -> str:
    """SQL text of the marker-hit ratio — built as ONE F.expr string
    instead of nested Column-API lambdas: each Column lambda costs
    several py4j round-trips, and with 5 languages × (filter + size +
    split) the driver spent ~0.2 s per build just assembling the plan
    (measured r9; execution unchanged — same expression tree)."""
    lst = ", ".join(f"'{m}'" for m in markers)
    toks = f"split(`{text_col}`, ' ')"
    return (f"size(filter({toks}, t -> t IN ({lst}))) / "
            f"greatest(size({toks}), 1)")


def lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-language marker-hit ratio columns ``score_<lang>`` plus argmax
    ``lang_pred``. One projection, no shuffle."""
    # one withColumns call of F.expr strings (not a withColumn chain of
    # Column-API lambdas): chained withColumn re-analyzes the whole
    # plan per call, and each Column lambda costs several py4j round
    # trips — together ~0.5 s of driver-side build time at sf0.1
    # before any execution (q74 r8→r9 drift; measured round 9)
    out = df.withColumns(
        {f"score_{lang}": F.expr(_marker_ratio_sql(text_col, markers))
         for lang, markers in LANG_MARKERS.items()})
    # argmax via greatest + chained when (stable: first max wins in
    # dict order), as one parsed SQL string
    best = ", ".join(f"score_{lang}" for lang in LANG_MARKERS)
    whens = " ".join(
        f"WHEN score_{lang} = greatest({best}) THEN '{lang}'"
        for lang in LANG_MARKERS)
    return out.withColumn("lang_pred", F.expr(f"CASE {whens} END"))


def quality_score(df: DataFrame, text_col: str = "text", out: str = "quality") -> DataFrame:
    """Heuristic quality in [0,1]: length band + word-shape + punctuation
    density + stopword presence (the usual crawl-filter features).
    Built as one parsed SQL string — the Column-API form cost ~0.1 s of
    py4j build time per call (measured r9); same expression tree."""
    t = f"`{text_col}`"
    n_toks = f"greatest(size(split({t}, ' ')), 1)"
    punct = (rf"size(regexp_extract_all({t}, '[^\\w\\s]', 0)) / "
             rf"greatest(length({t}), 1)")
    stop = _marker_ratio_sql(text_col, LANG_MARKERS["en"])
    # D-suffixed literals: bare 1.0 parses as DECIMAL in Spark SQL,
    # but the Column-API original computed in DOUBLE — keep the type
    score = (
        f"(CASE WHEN length({t}) BETWEEN 50 AND 20000 "
        f"THEN 1.0D ELSE 0.25D END) * 0.3D + "
        f"(CASE WHEN length({t}) / {n_toks} BETWEEN 2.0D AND 12.0D "
        f"THEN 1.0D ELSE 0.25D END) * 0.3D + "
        f"(CASE WHEN {punct} <= 0.2D THEN 1.0D ELSE 0.5D END) * 0.2D + "
        f"(CASE WHEN {stop} >= 0.01D THEN 1.0D ELSE 0.5D END) * 0.2D")
    return df.withColumn(out, F.expr(f"round({score}, 6)"))


def fingerprint(df: DataFrame, text_col: str = "text", out: str = "fp") -> DataFrame:
    """Polynomial rolling hash over characters, mod a 1e9-scale prime —
    overflow-safe under ANSI mode and expressible in portable SQL (the
    oracle twin uses the same fold in DuckDB's list_reduce)."""
    chars = F.split(F.col(text_col), "")
    fold = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * FINGERPRINT_BASE + F.ascii(c)) % FINGERPRINT_MOD,
    )
    return df.withColumn(out, fold)


def text_stats(df: DataFrame, group_col: str = "lang") -> DataFrame:
    """Per-group corpus stats (the Q49 oracle shape)."""
    return (
        df.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.avg("n_chars").alias("avg_chars"),
            F.min("n_chars").alias("mn"),
            F.max("n_chars").alias("mx"),
        )
        .orderBy(group_col)
    )


# --- scrubbing (URL / email / phone → placeholder tokens) ------------------

# RE2-compatible (no lookaround) so the DuckDB oracle can run the SAME
# patterns; replacement order matters (URLs first — they can contain '@').
SCRUB_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
)


def scrub_text(
    df: DataFrame,
    text_col: str = "text",
    out: str | None = None,
    patterns: tuple[tuple[str, str], ...] = SCRUB_PATTERNS,
) -> DataFrame:
    """Replace URLs / emails / phone-number shapes with placeholder tokens
    (the PII/noise-scrub stage of a corpus pipeline). Pure JVM
    regexp_replace chain — no shuffle, no UDF."""
    col = F.col(text_col)
    for pat, repl in patterns:
        col = F.regexp_replace(col, pat, repl)
    return df.withColumn(out or text_col, col)


def entropy_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Shannon entropy of the character and token
    distributions — the gibberish/boilerplate band filter: natural prose
    sits in a characteristic band (chars ≈ 4-4.5 bits), repeated spam
    collapses toward 0, and random noise pushes toward log2(alphabet).

    Same shape as repetition_stats: explode → (doc, symbol) counts →
    per-doc re-agg using entropy = log2(n) - Σ c·log2(c) / n. Linear in
    text size; partial aggregation bounds both shuffles by
    distinct-symbol volume (≤ alphabet/vocabulary per doc)."""
    def _ent(sym):
        counts = (
            df.select(id_col, F.explode(sym).alias("__sym"))
            .filter(F.col("__sym") != "")
            .groupBy(id_col, "__sym").agg(F.count(F.lit(1)).alias("__c"))
        )
        n = F.sum("__c").cast("double")
        s = F.sum(F.col("__c").cast("double") * F.log2(F.col("__c").cast("double")))
        return counts.groupBy(id_col).agg(
            F.sum("__c").cast("long").alias("__n"),
            (F.log2(n) - s / n).alias("__e"),
        )

    ch = _ent(F.split(F.col(text_col), ""))
    tk = _ent(tokens(F.col(text_col)))
    return (
        ch.select(id_col, F.col("__n").alias("n_chars"),
                  F.round("__e", 6).alias("char_entropy"))
        .join(tk.select(id_col, F.round("__e", 6).alias("token_entropy")),
              id_col)
    )


def corpus_bigram_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document cross-entropy under the corpus's own bigram language
    model — the perplexity-filter quality signal of crawl pipelines
    (documents whose token transitions are unlike the corpus score high;
    boilerplate scores low), with the corpus itself as the model so no
    external LM is needed.

    score(doc) = avg over its bigrams of -log2 P(tok|prev), with
    P = c(prev,tok) / c(prev) from corpus counts (MLE — every scored
    bigram contributed to the counts, so P > 0 always).

    Plan (r7 profile pass): explode to bigrams, then immediately
    aggregate to per-document bigram COUNTS — every later stage reads
    that relation, not the raw bigram stream. The corpus counts are its
    re-aggregation (same (prev,tok) exchange shape, so Catalyst emits a
    ReusedExchange instead of re-running the scan+explode — the r6 plan
    computed the explode TWICE, once for the model and once for the
    scoring join), the model join touches one row per DISTINCT
    (doc,bigram) instead of one per bigram instance (Zipf-repeated
    bigrams collapse), and the per-doc score is the count-weighted
    average — identical to the instance average by construction. AQE
    broadcasts the model when small and skew-splits the Zipf-hot heads
    when it is not; the NLL is computed once per model row."""
    # Bind the token array to a real COLUMN before the lambda touches it:
    # an inline split(text) referenced from inside transform() is not
    # shared — it re-evaluates the split per element, making the bigram
    # build O(tokens²) per document (r12 measured: the explode alone was
    # 2.9 s at sf0.1 inline vs 0.4 s with the projection; guide §1.2
    # "per-task work").
    toks = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__t"))
    t = F.col("__t")
    idx = F.when(
        F.size(t) >= 2, F.sequence(F.lit(2), F.size(t))
    ).otherwise(F.array().cast("array<int>"))
    bg = toks.select(
        F.col(id_col),
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(t, i - 1).alias("prev"),
                    F.element_at(t, i).alias("tok"),
                ),
            )
        ).alias("__bg"),
    ).select(id_col, F.col("__bg.prev").alias("__prev"),
             F.col("__bg.tok").alias("__tok"))
    docbg = bg.groupBy(id_col, "__prev", "__tok").agg(
        F.count(F.lit(1)).cast("double").alias("__n"))
    cnt = docbg.groupBy("__prev", "__tok").agg(
        F.sum("__n").alias("__c"))
    ctx = cnt.groupBy("__prev").agg(F.sum("__c").alias("__cp"))
    model = cnt.join(ctx, "__prev").select(
        "__prev", "__tok",
        (-F.log2(F.col("__c") / F.col("__cp"))).alias("__nll"))
    scored = docbg.join(model, ["__prev", "__tok"])
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("__n").cast("long").alias("n_bigrams"),
            F.round(F.sum(F.col("__n") * F.col("__nll"))
                    / F.sum("__n"), 6).alias("cross_entropy"),
        )
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document repetition signals: token count, distinct-token count,
    repetition ratio (1 - distinct/total), and the most-frequent token's
    share — boilerplate/spam detectors that pure length checks miss.

    Explode → (doc, token) counts → per-doc re-agg: linear in tokens (a
    per-doc HOF count would be quadratic in document length), partial
    aggregation bounds both shuffles by distinct-token volume."""
    tok_counts = (
        df.select(id_col, F.explode(tokens(F.col(text_col))).alias("__tok"))
        .groupBy(id_col, "__tok")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    n = F.sum("__c")
    nd = F.count(F.lit(1))
    top = F.max("__c")
    return (
        tok_counts.groupBy(id_col)
        .agg(
            n.cast("long").alias("n_tokens"),
            nd.cast("long").alias("n_distinct"),
            F.round(F.lit(1.0) - nd / n, 6).alias("rep_ratio"),
            F.round(top / n, 6).alias("top_share"),
        )
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    form: str = "NFC",
    strip_accents: bool = False,
    lowercase: bool = False,
    out: str | None = None,
):
    """Unicode canonicalization (NFC/NFKC/NFD/NFKD), optional accent
    stripping (NFD + drop combining marks) and casefolding — the
    normalization step BEFORE hashing/dedup: two byte-different encodings
    of the same text (composed vs combining accents, compatibility forms)
    must hash identically or every downstream dedup tier silently leaks
    duplicates. DuckDB ships this as nfc_normalize/strip_accents; Spark
    has no JVM builtin, so this is an Arrow-batched pandas_udf over the
    stdlib ``unicodedata`` — one Python boundary crossing, vectorized per
    batch, no shuffle (pure projection)."""
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"form must be NFC/NFKC/NFD/NFKD, got {form!r}")
    # local import + explicit globals entry: `from __future__ import
    # annotations` stringifies the hints, and pandas_udf resolves them in
    # this module's globals — pd must be visible there
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    globals().setdefault("pd", pd)

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        def one(x):
            if x is None:
                return None
            y = unicodedata.normalize(form, x)
            if strip_accents:
                y = "".join(c for c in unicodedata.normalize("NFD", y)
                            if not unicodedata.combining(c))
                y = unicodedata.normalize(form, y)
            return y.casefold() if lowercase else y

        return s.map(one)

    return df.withColumn(out or text_col, _norm(F.col(text_col)))


def source_report(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    min_docs: int = 5,
    max_dup_rate: float = 0.5,
    min_mean_tokens: float = 5.0,
) -> DataFrame:
    """Source/domain-level curation report (the RefinedWeb/C4 pattern of
    deciding at DOMAIN granularity, not per document): per source —
    document count, corpus-wide exact-duplicate rate, mean token count,
    language mix (distinct langs + top-language share when a ``lang``
    column exists), and a ``keep`` decision from the thresholds.

    Scale shape: one md5 window count (dup detection, hash shuffle on
    content) + one aggregation keyed on source — both linear with
    map-side partials; no pair joins, no collect. Pure SQL-expressible,
    so the declared query carries a full DuckDB oracle twin."""
    from pyspark.sql import Window

    has_lang = "lang" in df.columns
    d = df.withColumn(
        "__dup", (F.count(F.lit(1)).over(
            Window.partitionBy(F.md5(F.col(text_col)))) > 1).cast("int"))
    d = d.withColumn("__toks", F.size(F.split(F.col(text_col), " ")))
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__dup").alias("n_dup_docs"),
        F.round(F.sum("__dup") / F.count(F.lit(1)), 6)
        .cast("double").alias("dup_rate"),
        F.round(F.avg(F.col("__toks").cast("double")), 6)
        .cast("double").alias("mean_tokens"),
        # keep decides on the UNROUNDED aggregates — rounding first would
        # flip the bit for threshold-straddling values and diverge from
        # the SQL oracle twin, which compares raw expressions
        ((F.count(F.lit(1)) >= min_docs)
         & (F.sum("__dup") / F.count(F.lit(1)) <= max_dup_rate)
         & (F.avg(F.col("__toks").cast("double")) >= min_mean_tokens)
         ).alias("keep"),
    ]
    if has_lang:
        aggs.insert(4, F.countDistinct("lang").alias("n_langs"))
    rep = d.groupBy(source_col).agg(*aggs)
    return rep.orderBy(source_col)
