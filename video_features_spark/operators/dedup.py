"""Deduplication operators for training-data pipelines: exact, n-gram Jaccard,
MinHash+LSH, SimHash, embedding-cosine near-dup (hyperplane-LSH blocked), and
connected components over verified pairs.

No analog exists in the reference (its only uniqueness machinery is the
duplicate-stem assertion, ``/root/reference/utils/utils.py:91-92``); these are
the scale-path operators a 100 TB corpus needs. Everything is pure DataFrame
API — shingling via higher-order functions, hashing via ``md5``-prefix ints
(chosen deliberately: DuckDB computes the identical value, so every stage up to
LSH banding is oracle-checkable in SQL) — so Catalyst handles pushdown and AQE
handles skew in the self-joins.

Scale notes
-----------
- Shingle explosion multiplies rows by ~doc_len; the candidate self-join is on
  the *banded signature* (MinHash) — k·n rows, band cardinality keeps buckets
  small. Never on raw shingles except in ``jaccard_pairs`` (the exact
  full-pair path for small corpora and oracle twins).
- All signatures are integers; a 10^12-row dedup shuffles fixed-width columns,
  not text.
- The shingle scan+explode is deliberately RECOMPUTED per consumer (sigs,
  sizes, verify a-side/b-side) rather than persisted: Catalyst's aggregate
  merging leaves no identical exchanges for ReuseExchange, and caching the
  exploded table is a losing trade — it is ~16 bytes per text character
  (larger than the corpus itself), while each recompute is a bandwidth-bound
  scan + codegen'd higher-order functions. Measured at sf0.1: the persisted
  variant is SLOWER (8.6 s vs 7.8 s warm); at 100 TB the cache would also
  have to spill hundreds of TB. If a deployment has a cheap columnar cache
  tier, persist the DISTINCT (id, h) output of ``shingle_table`` externally
  (e.g. write it bucketed by id via ``sources.bucketed``) and feed the
  downstream stages from that table instead.
- The MinHash chain is written once: ``_band_rows`` (exchange barrier +
  band hashes) and ``_set_jaccard`` (staged verify), fed by one of two
  bit-identical signature forms. ``minhash_dedup`` (corpus vs itself)
  takes ``minhash_signatures``: an explode of shingle positions under one
  codegen'd partial ``min`` aggregate per id. ``near_dup_join`` (new data
  vs a corpus) takes the in-row ``_minhash_expr``, because its streaming
  left side cannot aggregate; that form costs one interpreted lambda pass
  over the shingle set per hash function.
- Every expression whose size grows with a parameter (the n_hashes minima,
  the bands' hashes, the shingle set) is ONE SQL text (``F.expr`` /
  ``selectExpr``), built from ``_universal_hashes``, ``_band_hash_sql`` and
  ``_SHINGLE_HASH_SQL``. PySpark wraps each ``Column`` call in a call-site
  capture (a stack walk and ~5 py4j round trips), so a Python loop of
  ``Column`` calls made building the plan cost more than running parts of
  it: building ``lsh_candidate_pairs(minhash_signatures(64), 16)`` took
  5,961 py4j calls, now 217 at any n_hashes and bands.
- The VERIFY avoids the exploded table altogether (``_set_jaccard``):
  per-doc shingle-hash sets are computed in-row and pairs intersect via
  ``array_intersect`` — no Σ_pairs|A| row explosion, no reassembly groupBy
  (measured 2× the exploded verify at sf0.1, identical output).
- ``connected_components`` picks its path by input size alone: driver-side
  union-find under a pair cap, distributed large-star/small-star contraction
  above it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..sources.tables import spread_scan

# 2^32 < P (prime); md5-prefix hashes are < 2^32, so (a*h + b) % P is
# collision-structured like a universal hash family
_P = 4294967311
_A_SEED = 0x9E3779B1


def _hash_params(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family. ``a`` is kept
    under 2^20 so a·h + b stays below 2^52 — ANSI-mode int64 safe in both Spark
    and the DuckDB oracle (h is an md5-prefix < 2^32)."""
    params = []
    a, b = _A_SEED, 0x85EBCA77
    for _ in range(n_hashes):
        a = (a * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = (b * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        params.append((a % 1048573 + 1, b % _P))
    return params


def _shingle_positions(text: str, n: int) -> str:
    """SQL: start positions 1..len-n+1 of the n-grams of string column
    ``text``; one position (the whole string) when it is shorter than
    ``n``, and for NULL."""
    return f"sequence(1, greatest(length({text}) - {n} + 1, 1))"


def _char_shingles_sql(text: str, n: int) -> str:
    # the lambda variable is named apart from any column the body reads
    pos = _shingle_positions(text, n)
    return f"array_distinct(transform({pos}, __pos -> substr({text}, __pos, {n})))"


def char_shingles(text_col: str, n: int = 5):
    """Distinct character n-grams of a string column (higher-order functions,
    no UDF): positions 1..len-n+1 → substrings → array_distinct."""
    return F.expr(_char_shingles_sql(text_col, n))


# The md5-prefix shingle hash as SQL text; ``{}`` is the string expression.
# Expressions whose size grows with a parameter are built from it as one SQL
# text each; ``shingle_hash`` is its Column form (a test pins the two equal).
_SHINGLE_HASH_SQL = "CAST(conv(substring(md5({}), 1, 8), 16, 10) AS BIGINT)"


def shingle_hash(shingle_col):
    """32-bit integer hash of a shingle via md5 prefix — identical in DuckDB
    (``('0x'||substr(md5(s),1,8))::BIGINT``), which keeps MinHash oracle-able.
    The Column form of ``_SHINGLE_HASH_SQL``, for callers that hold a
    Column (e.g. a Python lambda's argument)."""
    return F.conv(F.substring(F.md5(shingle_col), 1, 8), 16, 10).cast("long")


def exact_dedup(df: DataFrame, key_cols, tiebreak_col: str) -> DataFrame:
    """Exact dedup: one surviving row per key (min tiebreak), plus group size."""
    return df.groupBy(*key_cols).agg(
        F.min(tiebreak_col).alias(f"keep_{tiebreak_col}"),
        F.count(F.lit(1)).alias("n_dups"),
    )


def shingle_table(df: DataFrame, id_col: str, text_col: str, n: int = 5) -> DataFrame:
    """(id, shingle_hash h) exploded table."""
    return (
        df.select(id_col, F.explode(char_shingles(text_col, n)).alias("__sh"))
        .select(id_col, shingle_hash(F.col("__sh")).alias("h"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle:
    |A∩B| via shingle self-join, |A∪B| = |A|+|B|−|A∩B|. Output
    (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold."""
    df = spread_scan(df, id_col)
    sh = shingle_table(df, id_col, text_col, n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "h")
    b = sh.select(F.col(id_col).alias("id_b"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _universal_hashes(n_hashes: int, h: str) -> list[str]:
    """SQL: the n_hashes terms (a_i·h + b_i) mod P of the hash family, on
    the long expression ``h``."""
    return [f"({a} * {h} + {b}) % {_P}" for a, b in _hash_params(n_hashes)]


def _minhash_expr(n_hashes: int):
    """The in-row MinHash signature of the ``__sset`` shingle-hash set column,
    bit-identical to ``minhash_signatures`` but one interpreted lambda pass
    per hash function: the form for a streaming side (``near_dup_join``)."""
    mins = (f"array_min(transform(__sset, h -> {t}))" for t in _universal_hashes(n_hashes, "h"))
    return F.expr(f"array({', '.join(mins)})")


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 32, shingle_n: int = 5
) -> DataFrame:
    """(id, minhash array<long>[n_hashes]) — min over shingles of
    (a_i·h + b_i) mod P per hash function, in one whole-stage-codegen pass:
    explode each doc's shingle positions, hash each shingle, and take all
    n_hashes minima in one ``groupBy(id)``. The partial aggregate sits on
    the explode, so exploded rows never shuffle. A min over positions
    equals a min over the distinct set: the values are bit-identical to
    the in-row ``_minhash_expr`` (NULL text gives n_hashes NULLs), at half
    its executor CPU on the curate workload (0.87 → 0.42 CPU-s, 4 cores).

    Batch only, and ids must be unique (rows sharing an id merge into one
    signature); ``near_dup_join`` is the streaming form."""
    pos = df.selectExpr(
        id_col, text_col, f"explode_outer({_shingle_positions(text_col, shingle_n)}) AS __i"
    )
    shingle = f"substr({text_col}, __i, {shingle_n})"
    hashed = pos.selectExpr(id_col, f"{_SHINGLE_HASH_SQL.format(shingle)} AS __h")
    mins = (f"min({t})" for t in _universal_hashes(n_hashes, "__h"))
    return hashed.groupBy(id_col).agg(F.expr(f"array({', '.join(mins)})").alias("minhash"))


def _band_hash_sql(sig_col: str, band: int, rows_per_band: str) -> str:
    """SQL: band hash = md5-prefix of the band's signature values joined with
    ',' plus a band marker — engine-neutral (DuckDB computes the identical
    value: ``('0x'||substr(md5(concat_ws(',', m_i, ..., 'b<band>')),1,8))::BIGINT``),
    which makes the whole LSH chain oracle-checkable in SQL."""
    vals = (
        f"transform(slice({sig_col}, {band} * {rows_per_band} + 1, {rows_per_band}),"
        " x -> CAST(x AS STRING))"
    )
    return _SHINGLE_HASH_SQL.format(f"concat_ws(',', {vals}, 'b{band}')")


def _band_rows(
    sig_df: DataFrame, id_col: str, sig_col: str, bands: int, rows_per_band: str, carry=()
) -> DataFrame:
    """(id, carry..., band, band_hash): one row per band of each signature;
    ``rows_per_band`` is SQL text.

    The input is re-exchanged on the id first. In-row signatures
    (``_minhash_expr``, as ``near_dup_join`` builds them) need it: they
    arrive as an UNMATERIALIZED projection, and without a barrier
    Catalyst's projection collapse inlines the whole signature computation
    (shingle set + one transform per hash function) into EVERY band-hash
    expression on BOTH sides of the join — measured 2x the total chain at
    sf0.1. The exchange carries only (id, n_hashes longs, carry) — trivial
    at any scale — and a self-join's two sides share it via ReuseExchange,
    so the signature pipeline evaluates exactly once. Aggregated signatures
    (``minhash_signatures``) pass through harmlessly: they are already one
    materialized row per id, and the planner drops the repartition where
    the aggregate's own exchange already hash-partitions them the same way.
    ``repartition`` is streaming-legal."""
    hashes = ", ".join(_band_hash_sql(sig_col, b, rows_per_band) for b in range(bands))
    return sig_df.repartition(id_col).select(
        id_col, *carry, F.expr(f"posexplode(array({hashes}))").alias("band", "band_hash")
    )


def lsh_candidate_pairs(
    sig_df: DataFrame, id_col: str, bands: int = 8, sig_col: str = "minhash"
) -> DataFrame:
    """Band the signature, hash each band, self-join on (band, band_hash):
    classic MinHash-LSH candidate generation. Signature length must be
    divisible by ``bands``."""
    rows_per_band = f"CAST(size({sig_col}) / {bands} AS INT)"
    banded = _band_rows(sig_df, id_col, sig_col, bands, rows_per_band)
    a = banded.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    return (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# the most pairs a bounded probe brings to the driver: the candidate set
# ``minhash_dedup`` broadcasts, the edge list ``connected_components`` solves
_MAX_LOCAL_PAIRS = 500_000
_MAX_STAR_ROUNDS = 50  # the star path converges in O(log² n) rounds


def _resolve_candidate_pairs(
    pairs: DataFrame, max_broadcast_pairs: int
) -> tuple[DataFrame, bool]:
    """Shared auto broadcast-vs-shuffle decision: a bounded
    ``limit(cap+1).collect()`` probe (CollectLimit stops early — a candidate
    explosion never fully materializes driver-side). When the probe returns
    ≤ cap rows it returned EVERY candidate (deterministic full set), so the
    chain is replaced by a driver-local table: the broadcast and every later
    reference reuse it at zero recompute. Returns (pairs, broadcast?)."""
    # Arrow transfer (toPandas) instead of a Row-object collect: the probe
    # moves up to cap+1 rows to the driver, and columnar Arrow is ~10x the
    # row-pickle path for a 100k+-pair candidate set (guide §6 "Arrow for
    # driver transfers"); localizing back via createDataFrame(pandas) rides
    # Arrow too. Same rows, same bounded-probe semantics.
    head = pairs.limit(max_broadcast_pairs + 1).toPandas()
    if len(head) > max_broadcast_pairs:
        return pairs, False
    local = pairs.sparkSession.createDataFrame(head, schema=pairs.schema)
    return local, True


def _shingle_set_expr(text_col: str, n: int):
    """In-row DISTINCT shingle-hash set of a text column. NULL hashes (NULL
    text ⇒ one NULL shingle ⇒ NULL md5) are FILTERED: ``array_intersect``
    treats NULL as equal-to-NULL, so keeping them would score two NULL-text
    docs as jaccard 1.0. NULL text is the empty set, as in the exploded
    ``jaccard_pairs`` equi-join (NULL never equals NULL), and scores 0.0."""
    hashes = f"transform({_char_shingles_sql(text_col, n)}, s -> {_SHINGLE_HASH_SQL.format('s')})"
    return F.expr(f"array_distinct(filter({hashes}, h -> h IS NOT NULL))")


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 5) -> DataFrame:
    """(id, __sset array<long>) — each doc's DISTINCT shingle-hash set computed
    IN-ROW (higher-order functions, no explode, no shuffle). Same set the
    exploded ``shingle_table`` yields per id, as one map-only pass (modulo
    NULL hashes, which the exploded equi-joins can never match anyway — see
    ``_shingle_set_expr``)."""
    return df.select(id_col, _shingle_set_expr(text_col, n).alias("__sset"))


def jaccard_on_pair_sets(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.0,
    broadcast_pairs: bool = False,
) -> DataFrame:
    """Exact Jaccard over a candidate pair list via per-doc shingle SETS:
    join each pair to its two in-row shingle-hash arrays, then
    ``array_intersect`` — the minhash_dedup verify hot path.

    Why sets beat the exploded-table join (measured 2× at sf0.1): the
    exploded verify multiplies shingle rows by pair membership
    (Σ_pairs |A| intermediate rows) and pays a giant groupBy to re-assemble
    intersections; here the data moved is the same Σ_pairs(|A|+|B|) hash
    values but as a few wide rows per pair — no row explosion, no aggregate,
    and the per-pair intersect runs inside whole-stage codegen. At 100 TB the
    joins shuffle on the id columns (or stream past a broadcast pair list)
    and nothing fans out: a hot shingle cannot blow up a pair-anchored join
    (hot-shingle fan-out only matters for candidate GENERATION, which LSH
    banding already bounds). Every pair id exists in ``df`` by construction
    (candidates are drawn from it), and zero-overlap pairs surface naturally
    with jaccard 0 — no re-anchor join needed.

    ``broadcast_pairs=True``: ``pairs`` is a small driver-local table (as
    ``_resolve_candidate_pairs`` returns under its cap) — broadcast it and
    pre-filter both sides to its ids. Leave it False for a lazy candidate
    chain: the pre-filter references ``pairs`` twice more, and each reference
    would re-run the chain."""
    base_a = base_b = df
    if broadcast_pairs:
        # pre-filter each side's docs to the ids that actually appear in
        # candidates (broadcast semi-join sits BELOW the set projection, so
        # non-candidate rows never pay the per-character shingle transform;
        # on a sparse-candidate corpus this prunes most of the work)
        base_a = df.join(
            F.broadcast(pairs.select(F.col("id_a").alias(id_col)).distinct()), id_col, "semi"
        )
        base_b = df.join(
            F.broadcast(pairs.select(F.col("id_b").alias(id_col)).distinct()), id_col, "semi"
        )
    # the set table is narrow in Catalyst's stats (estimated from the source
    # parquet) but WIDE in reality (one hash per text character) — without the
    # hint the planner happily broadcasts hundreds of real MB of arrays
    # (measured: 23 s vs 4 s at sf0.1). Shuffle-hash keeps wide rows out of
    # driver memory and skips the sort a merge join would pay on them.
    a = (
        shingle_sets(base_a, id_col, text_col, n)
        .select(F.col(id_col).alias("id_a"), F.col("__sset").alias("__sa"))
        .hint("shuffle_hash")
    )
    b = (
        shingle_sets(base_b, id_col, text_col, n)
        .select(F.col(id_col).alias("id_b"), F.col("__sset").alias("__sb"))
        .hint("shuffle_hash")
    )
    cand = F.broadcast(pairs) if broadcast_pairs else pairs
    joined = cand.join(a, "id_a").join(b, "id_b")
    return _set_jaccard(joined, ["id_a", "id_b"], "__sa", "__sb", threshold)


def _set_jaccard(df: DataFrame, keep, sa: str, sb: str, threshold: float) -> DataFrame:
    """(keep..., jaccard) of the shingle-hash set columns ``sa``/``sb`` (0
    when both sets are empty), filtered to jaccard ≥ ``threshold``.

    The intersect size and the size sum are staged in their own projection so
    the O(|A|+|B|) ``array_intersect`` runs ONCE per pair: inlined into the
    jaccard expression it is evaluated three times (tie condition, numerator,
    denominator) — HOF/collection expressions are CodegenFallback, so codegen
    subexpression elimination never merges them. The staged references are
    attribute reads (same arithmetic, same values). A caller that builds the
    sets in the same pass must stage them in a projection of their own
    first, for the same reason."""
    staged = df.select(
        *keep,
        F.size(F.array_intersect(sa, sb)).alias("__i"),
        (F.size(sa) + F.size(sb)).alias("__sz"),
    )
    union_sz = F.col("__sz") - F.col("__i")
    return staged.select(
        *keep,
        F.when(union_sz == 0, F.lit(0.0)).otherwise(F.col("__i") / union_sz).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    threshold: float = 0.7,
) -> DataFrame:
    """Full near-dup pipeline: MinHash → LSH banding → candidate pairs →
    exact-Jaccard verification ≥ threshold, computed ONLY over the LSH
    candidates (the pruning is the whole point — verifying against a
    full-corpus Jaccard would re-introduce the O(n²) shingle self-join).
    A bounded candidate probe (``_resolve_candidate_pairs``) picks broadcast
    vs shuffle: an under-cap set is localized, so the candidate chain never
    re-evaluates, and verify broadcasts it. Verification runs through the
    SET-based verifier (``jaccard_on_pair_sets``, measured 2× the exploded
    join at sf0.1). Returns verified (id_a, id_b, jaccard) pairs."""
    # single-split inputs (one-row-group parquet) would otherwise run the
    # whole signature AND verify-side set computation on one task
    df = spread_scan(df, id_col)
    sigs = minhash_signatures(df, id_col, text_col, n_hashes, shingle_n)
    cands, local = _resolve_candidate_pairs(lsh_candidate_pairs(sigs, id_col, bands), _MAX_LOCAL_PAIRS)
    return jaccard_on_pair_sets(df, cands, id_col, text_col, shingle_n, threshold, local)


def near_dup_join(
    left: DataFrame,
    right: DataFrame,
    id_left: str = "doc_id",
    id_right: str = "corpus_id",
    text_left: str = "text",
    text_right: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    threshold: float = 0.7,
    left_extra_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """Near-dup LOOKUP of ``left`` documents against a ``right`` corpus:
    MinHash-LSH banding on BOTH sides, candidate = collision in any band,
    exact set-Jaccard verification — the incremental form of
    ``minhash_dedup`` (new data vs an indexed corpus instead of corpus vs
    itself). Emits (id_left, [left_extra_cols], id_right, jaccard ≥
    threshold).

    STREAMING-LEGAL on the left side, which is the point: every left-side
    step is map-only (the r5 in-row signatures are what makes this possible —
    the classic explode+groupBy signature form is an aggregation a stream
    cannot run without windowed state), the candidate join is a plain
    stream-static equi-join on (band, band_hash), and verification is an
    in-row ``array_intersect`` of shingle sets recomputed from the carried
    texts. Batch callers get band-duplicate matches collapsed here; a
    streaming left must collapse them with
    ``dropDuplicatesWithinWatermark`` (see
    ``streaming.ops.stream_near_dup_lookup``) because stateless dedup is
    unbounded on a stream.

    Scale notes: the banded index of ``right`` is bands×|corpus| narrow rows
    — build it once and reuse across micro-batches/runs; texts ride the
    banded rows so the verify needs no second join (bounded ×bands
    recompute of a candidate's shingle sets, traded against re-joining a
    stream to itself, which Structured Streaming forbids)."""
    if n_hashes % bands:
        raise ValueError(f"bands ({bands}) must evenly divide n_hashes ({n_hashes})")

    def banded_side(df, id_col, text_col, out_id, out_txt, extra=()):
        sig = df.select(
            F.col(id_col).alias(out_id),
            F.col(text_col).alias(out_txt),
            *[F.col(c) for c in extra],
            _shingle_set_expr(text_col, shingle_n).alias("__sset"),
        ).select(out_id, out_txt, *extra, _minhash_expr(n_hashes).alias("__mh"))
        return _band_rows(sig, out_id, "__mh", bands, str(n_hashes // bands), (out_txt, *extra))

    lb = banded_side(left, id_left, text_left, "__lid", "__ltxt", tuple(left_extra_cols))
    rb = banded_side(right, id_right, text_right, "__rid", "__rtxt")
    sets = lb.join(rb, ["band", "band_hash"]).select(
        F.col("__lid").alias(id_left),
        *[F.col(c) for c in left_extra_cols],
        F.col("__rid").alias(id_right),
        _shingle_set_expr("__ltxt", shingle_n).alias("__sl"),
        _shingle_set_expr("__rtxt", shingle_n).alias("__sr"),
    )
    out = _set_jaccard(sets, [id_left, *left_extra_cols, id_right], "__sl", "__sr", threshold)
    if left.isStreaming:
        return out  # caller collapses band duplicates within its watermark
    return out.dropDuplicates([id_left, id_right])


def connected_components(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Connected components over near-dup pairs → ``(id, component)`` with
    component = the smallest member id.

    A bounded probe (``limit(_MAX_LOCAL_PAIRS+1).collect()``) sizes the edge
    list; the path depends on that size alone. An under-cap graph — the
    COMMON case: the input is the LSH-VERIFIED pair set, already pruned to
    actual near-dups — solves driver-side by union-find (exact, sub-second; the cap is the broadcast probe's.
    Honest memory math: 500k collected Rows cost ~100+ bytes each plus a
    ≤1M-entry parent dict — order 100-200 MB transient driver memory, the
    same bounded-collect discipline as the IVF fit sample, NOT the raw 16
    bytes/pair), replacing ~K rounds × ~4 Spark jobs of pure scheduling
    overhead with one job. An over-cap graph takes the distributed star path: alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — converges in O(log² n) rounds on ANY graph shape,
    including an adversarial duplicate CHAIN. The probe runs over a
    ``localCheckpoint`` of the pair chain, so the chain evaluates exactly
    ONCE whichever path wins (probing the raw chain would re-evaluate it in
    the star path's own edge materialization). Both paths are gated against
    a union-find ground truth (tests/test_dedup.py).

    Scale notes (star): every step is a join/groupBy keyed on node id —
    neighbor lists are never materialized (hot star centers stay
    aggregate-shaped; AQE skew-join applies); ``localCheckpoint`` truncates
    the lineage every round — without it the plan doubles per iteration and
    the driver chokes long before the data does. This is the step that turns
    verified pairs into dedup groups (keep min(id) per component)."""
    # Materialize the (usually lazy, usually expensive) pair chain ONCE and
    # probe the materialized set: probing the raw chain would make the
    # over-cap case evaluate it twice — once for this collect, again when the
    # star path materializes its own edges. An under-cap set is <= cap rows
    # so its checkpoint write is trivial; an over-cap set needed
    # materializing for the star rounds anyway. (Callers passing an
    # already-checkpointed table pay one redundant copy — bounded by the data
    # size, never by the chain.)
    # Failure semantics (intended): the lineage is cut, so a lost executor
    # fails the query and the caller reruns it; nothing recomputes from
    # lineage.
    local = pairs.select(id_a, id_b).localCheckpoint()
    head = local.limit(_MAX_LOCAL_PAIRS + 1).collect()
    if len(head) <= _MAX_LOCAL_PAIRS:
        return _cc_local_union_find(local, head, id_a, id_b)
    return _cc_alternating_stars(local, id_a, id_b)


def _cc_local_union_find(pairs: DataFrame, rows: list, id_a: str, id_b: str) -> DataFrame:
    """Driver-side union-find over an under-cap edge list (see
    ``connected_components``). Union-by-min keeps each tree's root at the
    set minimum, so root == component label directly; full path compression
    makes the pass effectively linear."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r[0], r[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    comp = [(x, find(x)) for x in parent]
    id_type = pairs.schema[id_a].dataType.simpleString()
    return pairs.sparkSession.createDataFrame(
        pd.DataFrame(comp, columns=["id", "component"]),
        schema=f"id {id_type}, component {id_type}",
    )


def _cc_alternating_stars(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """The over-cap path of ``connected_components``. Each round:

    - large-star: every node's STRICTLY LARGER neighbors re-point to the
      minimum of its closed neighborhood → emitted edges always point
      larger→smaller.
    - small-star: every node and its (now all-smaller) neighbors re-point to
      the neighborhood minimum → components contract toward their root.

    Fixed point = a star forest: every edge is (member, root). Both stars are
    groupBy-min + join on the node id; the convergence probe is two LIMIT-1
    scans of the checkpointed round output."""
    # ONE materialization of the (possibly expensive) upstream pair chain;
    # nodes and working edges both derive from it. Failure semantics (as at
    # every cut in this module): a lost executor fails the query; nothing
    # recomputes from lineage.
    raw = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        raw.select(F.col("src").alias("id"))
        .unionByName(raw.select(F.col("dst").alias("id")))
        .distinct()
    )
    edges = raw.filter(F.col("src") != F.col("dst"))

    def _not_star_forest(e: DataFrame) -> bool:
        """Fixed point ⟺ the edge set is a star forest: no parent is itself
        a child (no chains) and every child has exactly one parent."""
        chained = (
            e.join(e.select(F.col("dst").alias("src")).distinct(), "src", "semi")
            .limit(1)
            .count()
        )
        if chained:
            return True
        multi = e.groupBy("src").count().filter(F.col("count") > 1).limit(1).count()
        return multi > 0

    for rnd in range(_MAX_STAR_ROUNDS):
        # large-star over the bidirected neighborhood
        bi = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        m = (
            bi.groupBy("src")
            .agg(F.min("dst").alias("__mn"))
            .select("src", F.least("__mn", F.col("src")).alias("__m"))
        )
        # no distinct/checkpoint here: duplicates collapse in the small-star
        # distinct below, and the two references to `ls` share their shuffle
        # (ReusedExchange) inside the ONE materialization per round
        ls = (
            bi.join(m, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        # small-star: edges now all point larger→smaller
        mn = ls.groupBy("src").agg(F.min("dst").alias("__m"))
        new = (
            ls.join(mn, "src")
            .filter(F.col("dst") != F.col("__m"))
            .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
            .unionByName(mn.select("src", F.col("__m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()  # cut lineage: iterative plans grow per round
        )
        # a lost executor fails the query here too: a round's checkpoint has
        # no lineage to recompute from
        edges = new
        # a non-trivial input is never star-shaped after round 0's large-star
        # alone — skip the probe there to save two jobs
        if rnd > 0 and not _not_star_forest(edges):
            break
    else:
        # _MAX_STAR_ROUNDS exhausted without a probe success: verify once, and FAIL
        # LOUDLY if the forest didn't form — an unconverged edge set would
        # fan the final join out to multiple conflicting rows per node
        # (silently wrong dedup groups). O(log² n) convergence means hitting
        # this indicates a bug, not a big graph.
        if _not_star_forest(edges):
            raise RuntimeError(
                f"connected_components(star) did not converge in {_MAX_STAR_ROUNDS} rounds"
            )
    return nodes.join(
        edges.select(F.col("src").alias("id"), F.col("dst").alias("component")),
        "id",
        "left",
    ).select("id", F.coalesce("component", "id").alias("component"))


def dedup_groups(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Pairs → one row per duplicate-cluster member: ``(id, component,
    is_kept)`` where the smallest id of each component is the survivor."""
    comp = connected_components(pairs, id_a, id_b)
    return comp.withColumn("is_kept", F.col("id") == F.col("component"))


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32
) -> DataFrame:
    """SimHash: per-token hash (md5-prefix, 32 usable bits — the same
    engine-neutral hash as shingles, so DuckDB reproduces the signature
    bit-for-bit and the driver oracle-checks it), weighted bit-vote, sign →
    signature. Near-dup docs differ in few bits (popcount of the XOR)."""
    if bits > 32:
        raise ValueError("md5-prefix hash provides 32 bits; bits must be <= 32")
    df = spread_scan(df, id_col)
    toks = df.select(
        id_col,
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("__tok"),
    )
    weighted = toks.groupBy(id_col, "__tok").agg(F.count(F.lit(1)).alias("w"))
    h = shingle_hash(F.col("__tok"))
    votes = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.col("w")).otherwise(-F.col("w"))
        ).alias(f"__v{i}")
        for i in range(bits)
    ]
    agg = weighted.groupBy(id_col).agg(*votes)
    sig = None
    for i in range(bits):
        bit = F.when(F.col(f"__v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return agg.select(id_col, sig.alias("simhash"))


def embedding_near_dup_blocked(
    df: DataFrame,
    id_col: str,
    emb_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.95,
    n_planes: int = 4,
    n_tables: int = 4,
    seed: int = 7,
) -> DataFrame:
    """The SCALE path for embedding near-dup: hyperplane-LSH blocking →
    bucket-local exact-cosine verify ≥ threshold. Candidates are pairs that
    collide in ANY of ``n_tables`` independent hash tables — the self-join runs
    on (table, bucket), never all-pairs, so the plan has no nested-loop join
    over the corpus. At cos ≥ 0.95 the per-table collision prob is ~0.66 with 4 planes;
    4 tables give ~99% recall. Planes are seeded literals, so the whole chain
    is deterministic AND SQL-reproducible (the driver oracle is generated from
    the same literals)."""
    from .similarity import _dot, _l2, _multi_table_buckets

    # single-split inputs would compute every table's plane dots on one task
    b = _multi_table_buckets(
        spread_scan(df.select(id_col, emb_col), id_col), emb_col, dim, n_planes, n_tables, seed
    )
    a, c = (
        b.select(
            F.col(id_col).alias(f"id_{s}"), F.col(emb_col).alias(f"e_{s}"),
            _l2(emb_col).alias(f"n_{s}"), "lsh_table", "lsh_bucket",
        )
        for s in "ab"
    )
    # dedup BEFORE scoring: a pair colliding in k tables appears k times, and
    # scoring first would compute the dim-length dot fold k times per pair —
    # measured 2x slower than shuffling the vectors once into the dedup
    # (verified both orders at sf0.1; the exact-cosine fold dominates, not
    # the shuffle bytes, at these dims)
    cand = (
        a.join(c, ["lsh_table", "lsh_bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "e_a", "n_a", "e_b", "n_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    cos = _dot("e_a", "e_b") / (F.col("n_a") * F.col("n_b"))
    return cand.select("id_a", "id_b", cos.alias("cos")).filter(F.col("cos") >= threshold)
