"""Text-analysis operators over document/caption columns — all pure JVM
(whole-stage codegen; no Python in the hot path), each with an ANSI-SQL
oracle twin in ``__spark_entry__.oracle_sql``.

The reference's only text ops are the CLIP tokenizer cleanup + BPE
(``/root/reference/models/clip/clip_src/simple_tokenizer.py``); these operators
are the training-data-pipeline extensions the task brief names: language-ID
(char-n-gram heuristic), quality scoring, curation, winnow fingerprints.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..sources.tables import spread_scan
from .dedup import dedup_groups, minhash_dedup, shingle_hash

# Compact per-language char-trigram profiles (high-frequency trigrams of each
# language, public linguistic knowledge). Deliberately small: the operator's
# job is the *plan shape* (distinct-trigram extraction + set intersection per
# candidate language); swap richer profiles in production.
TRIGRAM_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "he ", " th", "ing", "and", "nd ", " an", "ng ", " of", "of ",
           "ed ", " to", "to ", "er ", " in", "on ", " a ", "at ", "is ", " is"),
    "es": ("de ", " de", "la ", " la", "os ", "el ", " el", " co", "es ", " es",
           "as ", "ón ", "ión", " en", "en ", "ue ", " qu", "que", "nte", " se"),
    "fr": (" de", "de ", "es ", "le ", " le", "ent", "nt ", " la", "la ", "et ",
           " et", "ion", " pa", "re ", " co", "que", " qu", "ue ", "ur ", " un"),
}


def char_trigrams(text_col: str) -> Column:
    """Distinct char trigrams of a string column, extracted JVM-side:
    transform over an index sequence (no UDF, no explode-shuffle).

    Lowercase contract: the trigrams are taken as the column holds them, so
    a caller that wants case-folded trigrams passes an ALREADY-lowercased
    column, computed in a projection of its own (as ``langid_ngram`` does).
    A ``lower()`` inside the lambda would lowercase the whole text again at
    every trigram position: O(L²) per document."""
    t = text_col
    # guard: sequence(1, 0) DESCENDS in Spark, so short texts need the branch
    return F.expr(
        f"if(length({t}) < 3, array(),"
        f" array_distinct(transform(sequence(1, length({t}) - 2),"
        f" i -> substring({t}, i, 3))))"
    )


def _sql_literal(s: str) -> str:
    """``s`` as a Spark SQL string literal (``\\`` and ``'`` escaped)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _with_langid(
    df: DataFrame, text_col: str, profiles: dict[str, tuple[str, ...]]
) -> DataFrame:
    """``df`` plus ``ngram_<lang>`` per profile and ``lang_pred``, in staged
    projections. The scores are one struct of SQL text and the argmax one
    ``CASE`` text, so building them makes the same py4j calls at any number
    and size of profiles."""
    langs = sorted(profiles)
    scores = ", ".join(
        f"size(array_intersect(__g, array({', '.join(map(_sql_literal, profiles[lang]))})))"
        f" / greatest(size(__g), 1) AS `ngram_{lang}`"
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"__s.`ngram_{lang}`" for lang in langs) + ")"
    # earliest language wins ties
    pred = " ".join(f"WHEN __s.`ngram_{lang}` = {best} THEN {_sql_literal(lang)}" for lang in langs)
    # lowercase once per row: the trigram expression reads __lt three times,
    # so projection collapse keeps this projection apart from it
    lowered = df.select("*", F.lower(text_col).alias("__lt"))
    grams = lowered.select("*", char_trigrams("__lt").alias("__g")).drop("__lt")
    scored = grams.selectExpr("*", f"struct({scores}) AS __s")
    return scored.selectExpr("*", "__s.*", f"CASE {pred} END AS lang_pred").drop("__g", "__s")


def langid_ngram(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    profiles: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """Char-trigram language ID: per language, the fraction of the document's
    distinct trigrams found in that language's profile; ``lang_pred`` is the
    argmax (ties broken by language-name order, deterministic). Emits
    ``(id, ngram_<lang>... , lang_pred)``."""
    # single-split inputs would run the per-character trigram extraction on
    # one task (see tables.spread_scan)
    df = spread_scan(df, id_col).select(id_col, text_col)
    return _with_langid(df, text_col, profiles or TRIGRAM_PROFILES).drop(text_col)


def curate_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.3,
    lang: str | None = "en",
    jaccard_threshold: float = 0.5,
    shingle_n: int = 5,
    dedup_strategy: str = "lsh",
    n_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """End-to-end corpus curation — the composition a training-data pipeline
    actually runs: quality gate → language gate → near-dup cluster collapse
    (keep the smallest id of each connected component). Every stage is a
    DataFrame operator defined elsewhere in this package; the whole thing is
    one logical plan Catalyst optimizes jointly (the quality/lang filters
    prune rows *before* the near-dup stage).

    The near-dup stage is ``minhash_dedup`` (MinHash→LSH banding→
    candidate-only verify; 64 hashes / 16 bands = 4 rows per band, the r=4
    selectivity that keeps moderate-similarity pairs out of the candidate
    set with ~99% recall at jaccard ≥ 0.7). ``dedup_strategy`` accepts only
    ``"lsh"``.

    Emits (id, lang_pred, quality, n_words) for surviving documents.
    """
    if dedup_strategy != "lsh":
        raise ValueError(f"dedup_strategy must be 'lsh', got {dedup_strategy!r}")
    df = spread_scan(df, id_col)
    # scoring is one projection of each row: no join of the scores back by
    # id, so ids must be unique and non-NULL (as minhash_signatures requires
    # and the oracle's joins assume)
    q = _quality_columns(text_col)
    scored = _with_langid(df.select("*", q["quality"], q["n_words"]), text_col, TRIGRAM_PROFILES)
    # localCheckpoint the SCORED table before the gates: (a) filtering on a
    # computed column pushes a rewritten predicate below the scan, inlining
    # the trigram/quality expressions up to 12x per row into a single-task
    # Filter (measured: the dominant cost of this operator at sf0.1); (b) the
    # near-dup stage below re-evaluates `kept` four times (candidate probe,
    # both verify sides, the final survivor join). One materialization of the
    # scored corpus replaces all of that — the same lineage-cut discipline
    # connected_components already uses. At 100 TB the checkpoint is one
    # corpus-sized materialization traded against >=4 recomputations of the
    # scan + scoring chain.
    # Failure semantics (intended): the lineage is cut, so a lost executor
    # fails the query and the caller reruns it; nothing recomputes from
    # lineage. Not persist(DISK_ONLY): its session-wide cache entry would need
    # an unpersist after the caller has consumed the lazy result.
    scored = scored.select(*df.columns, "quality", "n_words", "lang_pred").localCheckpoint()
    kept = scored.filter(F.col("quality") >= min_quality)
    if lang is not None:
        kept = kept.filter(F.col("lang_pred") == lang)
    pairs = minhash_dedup(
        kept, id_col, text_col,
        n_hashes=n_hashes, bands=bands, shingle_n=shingle_n,
        threshold=jaccard_threshold,
    )
    groups = dedup_groups(pairs).withColumnRenamed("id", id_col)
    return (
        kept.join(groups.select(id_col, "is_kept"), id_col, "left")
        .filter(F.col("is_kept").isNull() | F.col("is_kept"))  # singletons survive
        .select(id_col, "lang_pred", "quality", "n_words")
    )


def _quality_columns(text_col: str) -> dict[str, Column]:
    """``quality_score``'s aliased columns by name."""
    t = F.col(text_col)
    words = F.split(F.trim(t), r"\s+")
    n_chars = F.length(t)
    n_words = F.size(words)
    punct = F.length(F.regexp_replace(t, r"[^\p{Punct}]", ""))
    upper = F.length(F.regexp_replace(t, r"[^A-Z]", ""))
    mean_wlen = (n_chars.cast("double") / F.greatest(n_words, F.lit(1)))
    punct_ratio = punct.cast("double") / F.greatest(n_chars, F.lit(1))
    upper_ratio = upper.cast("double") / F.greatest(n_chars, F.lit(1))
    composite = (
        F.least(n_words.cast("double") / F.lit(20.0), F.lit(1.0))
        * (F.lit(1.0) - F.least(punct_ratio * 4, F.lit(1.0)))
        * (F.lit(1.0) - F.least(upper_ratio * 4, F.lit(1.0)))
    )
    cols = dict(n_chars=n_chars, n_words=n_words, mean_word_len=mean_wlen,
                punct_ratio=punct_ratio, upper_ratio=upper_ratio, quality=composite)
    return {name: c.alias(name) for name, c in cols.items()}


def quality_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Composite document-quality heuristics (all JVM): length, word count,
    mean word length, punctuation ratio, uppercase ratio, and a 0..1 composite
    that penalizes degenerate documents (too short, all-punct, shouting)."""
    return df.select(id_col, *_quality_columns(text_col).values())


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Document fingerprinting by winnowing (the MOSS algorithm, Schleimer/
    Wilkerson/Aiken 2003): hash every k-gram position, slide a window of
    ``w`` consecutive position-hashes, keep each window's minimum — the
    selected set is a compact, position-robust fingerprint guaranteed to
    share a hash with any copy of length ≥ w+k-1. Pure JVM (higher-order
    functions over an index sequence, no UDF, no explode until the final
    distinct set), md5-prefix hashes ⇒ DuckDB reproduces the fingerprint set
    exactly. Emits exploded ``(id, fingerprint)`` rows.

    At corpus scale the fingerprint table is the substrate for copy
    detection: group by fingerprint, pairs sharing ≥ t fingerprints are
    plagiarism/near-copy candidates — same join shape as the shingle
    verifier, ~1/w the rows."""
    df = spread_scan(df, id_col)
    t = F.col(text_col)
    pos = F.sequence(F.lit(1), F.greatest(F.length(t) - k + 1, F.lit(1)))
    hashes = F.transform(pos, lambda i: shingle_hash(t.substr(i, F.lit(k))))
    # materialize the position-hash array in its OWN projection: embedded
    # inline in the window lambda below it is re-evaluated per window
    # position (HOF lambdas re-run their whole body per element — O(L·w)
    # md5 calls per doc became O(L²) in practice and dominated the query).
    base = df.select(id_col, hashes.alias("__ph"))
    n_win = F.greatest(F.size("__ph") - w + 1, F.lit(1))
    wins = F.transform(
        F.sequence(F.lit(1), n_win),
        lambda i: F.array_min(F.slice("__ph", i, w)),
    )
    return base.select(
        id_col, F.explode(F.array_distinct(wins)).alias("fingerprint")
    )
