"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship point-in-time image-feature pipeline on
sf0.001-scale synthetic data. ``queries()`` exposes every implemented operator
from SURVEY.md §2 over the driver's parquet tables; ``oracle_sql()`` gives the
DuckDB-equivalent SQL for each SQL-expressible one — including the full
MinHash→LSH→verify chain, SimHash, hyperplane-LSH ANN and blocked near-dup
(their oracles are GENERATED from the same hash constants / plane literals the
Spark operators bake into their plans, so the two can never drift). The
remaining rows-only queries (image/audio pipelines over in-Spark-generated
media, IVF whose centroids are fitted at run time) each enforce in-query
invariants with exact expected counts and bounds, and carry pytest gates in
tests/.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from video_features_spark.operators import (
    asof_join,
    backfill,
    lag_lead,
    resample,
    sessionize,
    sliding_stacks,
    top_k,
    tumbling_window_agg,
)
from video_features_spark.operators.asof import assert_no_leakage
from video_features_spark.operators.dedup import (
    _hash_params,
    exact_dedup,
    jaccard_pairs,
    minhash_dedup,
    simhash_signatures,
)
from video_features_spark.operators.similarity import cosine_topk, lsh_ann_topk
from video_features_spark.operators.features import (
    embed_caption_column,
    extract_image_features,
    image_text_similarity,
)
from video_features_spark.session import session_conf
from video_features_spark.sources.datagen import generate_images, generate_labels
from video_features_spark.sources.tables import spread_scan


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _dsum(col, scale: int = 6):
    """Order-independent sum of a double column for hash-compared aggregates:
    accumulate in decimal (associative/exact), cast to double AFTER the sum.
    Float summation order varies with Spark's partial-agg scheduling, so a
    bare ``F.sum(double)`` is flaky under the driver's exact value-hash (the
    r5 ``checkpoint_resume`` red row). DuckDB twin:
    ``(sum(col::DECIMAL(18,scale)))::DOUBLE`` — verified correctly rounded on
    this data at sf0.01/sf0.1. Source values are ≤2dp, so the decimal cast is
    lossless at scale≥2."""
    c = col if not isinstance(col, str) else F.col(col)
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")


def _order_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build side for the as-of queries: unique (user_id, o_orderdate) so the
    as-of answer is engine-independent."""
    return (
        _read(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_totalprice").alias("feat_price"))
        .withColumnRenamed("o_custkey", "user_id")
    )


_ASOF_ORACLE = """
    WITH feat AS (
      SELECT o_custkey AS user_id, o_orderdate, max(o_totalprice) AS feat_price
      FROM orders GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id, e.ts,
           f.feat_price, f.o_orderdate AS o_orderdate_asof
    FROM events e ASOF LEFT JOIN feat f
      ON e.user_id = f.user_id AND e.ts > f.o_orderdate
"""


def _q_asof(salt: int | None = None):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        probe = _read(spark, sf_dir, "events").select("event_id", "user_id", "ts")
        res = asof_join(
            probe,
            _order_features(spark, sf_dir),
            on=["user_id"],
            left_ts="ts",
            right_ts="o_orderdate",
            strict=True,
            salt_threshold=salt,
            num_salts=8,
        )
        return res.select("event_id", "user_id", "ts", "feat_price", "o_orderdate_asof")

    return run


def _q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return lag_lead(ev, ["user_id"], "ts", "value", tiebreak_col="event_id").select(
        "event_id", "user_id", "ts", "value", "value_lag1", "value_lead1"
    )


def _q_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events").withColumn(
        "value", F.when(F.col("event_id") % 3 == 0, None).otherwise(F.col("value"))
    )
    return backfill(ev, ["user_id"], "ts", ["value"], tiebreak_col="event_id").select(
        "event_id", "user_id", "ts", "value", "value_filled"
    )


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return sessionize(ev, ["user_id"], "ts", 1800, tiebreak_col="event_id").select(
        "event_id", "user_id", "ts", "session_id"
    )


def _q_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return resample(ev, ["user_id"], "ts", 86400.0, tiebreak_col="event_id").select(
        "user_id", "ts", "event_id"
    )


def _q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    return top_k(orders, ["o_custkey"], "o_totalprice", 5).select(
        "o_custkey", "o_totalprice", "rank"
    )


def _q_sliding_stacks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return sliding_stacks(ev, ["user_id"], "ts", "value", 8, 4, "avg", tiebreak_col="event_id").select(
        "user_id", "stack_start_idx", "stack_agg", "stack_end_ts"
    )


def _q_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return tumbling_window_agg(
        ev,
        ["user_id"],
        "ts",
        "1 day",
        [F.count(F.lit(1)).alias("n_events"), _dsum("value").alias("sum_value")],
    ).select("user_id", "win_start", "n_events", "sum_value")


def _q_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame (§2.5 breadth) via the library operator: per-
    user rolling 7-day event count + sum over event time — rangeBetween on
    epoch seconds, the frame shape ROWS frames can't express when events are
    irregular. The operator's decimal-sum keeps the arithmetic associative,
    so Spark and DuckDB agree bit-exactly."""
    from video_features_spark.operators.windows import rolling_range_agg

    ev = _read(spark, sf_dir, "events")
    return rolling_range_agg(
        ev, ["user_id"], "ts", 7 * 86400, "value", aggs=("count", "sum"), suffix="7d"
    ).select("event_id", "user_id", "ts", "n_7d", "sum_7d")


def _q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per group (A3 breadth) via the library
    operator: p50/p95 of lineitem quantity — Spark `percentile` and DuckDB
    `quantile_cont` share the same interpolation definition."""
    from video_features_spark.operators.windows import percentile_agg

    li = _read(spark, sf_dir, "lineitem")
    return percentile_agg(
        li, ["l_returnflag"], "l_quantity",
        percentiles=(0.5, 0.95), names=("p50_qty", "p95_qty"),
    )


def _q_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    # avg as decimal-sum/count (not F.avg): a double mean is order-dependent
    # in its last ulp under partial-agg scheduling — same class as _dsum
    return li.agg(
        F.min("l_quantity").alias("min_qty"),
        (_dsum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _q_distinct_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 distinct guard, exact AND sketched in one pass (consolidates the
    r1–r4 ``distinct_sketch`` entry — same coverage, one driver-window slot):
    per group, exact distinct count, row count, PK-uniqueness gate, plus a
    boolean pinning the HLL estimate within 5% of exact. HLL register-merge
    is max-based ⇒ order/partitioning independent ⇒ the boolean is
    deterministic, so the oracle asserts TRUE — if Spark's sketch ever
    drifts, the driver hash fails loudly. At 100 TB the sketch is the
    affordable first pass; the exact count is the audit."""
    li = _read(spark, sf_dir, "lineitem")
    # two-phase instead of multi-DISTINCT in one agg: three distinct
    # aggregates would Expand the fact table 3x before the shuffle (measured
    # 10.0 s vs 2.2 s at sf0.1). Phase 1 reduces to one row per PK, phase 2
    # to one row per (group, orderkey) — each with map-side partial agg — and
    # the HLL sketch over the DEDUPLICATED keys has the identical registers
    # (duplicates never change an HLL), so the estimate is bit-equal.
    # repartition on the phase-1 grouping keys: the groupBy reuses this
    # exchange (same clustering), so the plan still has one shuffle of the
    # fact table but the aggregation runs parallel instead of on the
    # single-split scan task (see spread_scan)
    li = spread_scan(li, "l_returnflag", "l_orderkey", "l_linenumber")
    l1 = li.groupBy("l_returnflag", "l_orderkey", "l_linenumber").agg(
        F.count(F.lit(1)).alias("__c")
    )
    l2 = l1.groupBy("l_returnflag", "l_orderkey").agg(
        F.count(F.lit(1)).alias("__pk_groups"), F.sum("__c").alias("__rows")
    )
    agg = l2.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_distinct_orders"),
        F.sum("__rows").alias("n_rows"),
        (F.sum("__rows") == F.sum("__pk_groups")).alias("pk_unique"),
        F.approx_count_distinct("l_orderkey", 0.02).alias("__est"),
    )
    return agg.select(
        "l_returnflag",
        "n_distinct_orders",
        "n_rows",
        "pk_unique",
        (F.abs(F.col("__est") - F.col("n_distinct_orders")) / F.col("n_distinct_orders") <= 0.05)
        .alias("sketch_within_5pct"),
    )


def _q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the single-split scan so the 8-aggregate decimal partial agg
    # runs parallel instead of on the scan's one task (see spread_scan)
    li = spread_scan(_read(spark, sf_dir, "lineitem"), "l_orderkey")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            (_dsum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
            (_dsum("l_discount") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority query (TPC-H Q3 shape): selective dim filter →
    broadcast-joined to orders → shuffle join to lineitem → agg + top-10.
    Catalyst broadcasts the filtered customer side (plan_audit-checked shape);
    the orders⨝lineitem join shuffles on the key."""
    cust = _read(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _read(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


def _q_grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level subtotals via explicit GROUPING SETS — the full CUBE
    lattice of (priority, status), which strictly contains ROLLUP's sets
    (consolidates the r1–r4 ``rollup_sales``+``cube_sales`` near-twins into
    one driver-window slot with identical engine coverage: Catalyst's Expand
    node, map-side partial agg, one shuffle). GROUPING_ID disambiguates real
    NULLs from subtotal rows."""
    orders = _read(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
               count(1) AS n_orders,
               grouping_id(o_orderpriority, o_orderstatus) AS gid
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), (o_orderstatus), ())
        """
    )


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the first (min event_id) row per (user_id, event_type)."""
    return exact_dedup(_read(spark, sf_dir, "events"), ["user_id", "event_type"], "event_id")


def _q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
        F.length("text").alias("n_chars_observed"),
    )


_STOPWORDS = ("the", "a", "of", "in", "and")


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_words = F.size(words)
    stop_hits = F.size(F.filter(words, lambda w: w.isin(*_STOPWORDS)))
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        ((F.length(F.regexp_replace(F.col("text"), r"\s+", ""))).cast("double") / n_words).alias("avg_word_len"),
        (stop_hits.cast("double") / n_words).alias("stopword_ratio"),
    )


def _q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation: quality gate → language gate → near-dup
    cluster collapse (the composed training-data-pipeline query)."""
    from video_features_spark.operators.text import curate_corpus

    return curate_corpus(
        _read(spark, sf_dir, "documents"),
        min_quality=0.3, lang="en", jaccard_threshold=0.5, shingle_n=_SHINGLE_N,
    )


def _q_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram language ID (the n-gram heuristic): per-language fraction
    of the doc's distinct trigrams found in that language's profile + argmax."""
    from video_features_spark.operators.text import langid_ngram

    return langid_ngram(_read(spark, sf_dir, "documents"))


def _q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (rolling-hash fingerprinting from the
    task brief; MOSS algorithm) — exploded (doc_id, fingerprint) set."""
    from video_features_spark.operators.text import winnow_fingerprints

    return winnow_fingerprints(
        _read(spark, sf_dir, "documents"), k=_SHINGLE_N, w=4
    )


def _q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 embedding post-transform, BOTH halves of vggish_postprocess.py:51-90:
    the PCA whitening matmul ``A(x−μ)`` (``:75-82``, fixed-tile matmul in an
    Arrow-batched UDF, seeded deterministic params standing in for the npz
    checkpoint) and the quantizer (clip to [-2,2] → scale to [0,255] → floor,
    ``:84-89``). q_sum digests the raw-quantize path (pure-SQL oracle);
    q_sum_white digests quantize∘whiten (BLAS-1 payload oracle). Integer
    outputs so the check is float-rounding-proof."""
    import pandas as pd

    from video_features_spark.functions.embed import pca_whiten_batch, synth_pca_params

    def _whiten_fn(col):
        import numpy as np

        matrix, means = synth_pca_params(64)
        out = pca_whiten_batch(np.stack(col.to_numpy()), matrix, means)
        return pd.Series(list(out))

    # explicit registration: `from __future__ import annotations` stringifies
    # type hints, which pandas_udf's signature inspection can't resolve
    _whiten = F.pandas_udf(_whiten_fn, "array<float>")

    emb = _read(spark, sf_dir, "embeddings").withColumn("white", _whiten("embedding"))

    def _quant_sum(col):
        clipped = F.transform(
            col, lambda x: F.greatest(F.least(x, F.lit(2.0)), F.lit(-2.0))
        )
        quant = F.transform(
            clipped, lambda x: F.floor((x + 2.0) * (255.0 / 4.0)).cast("long")
        )
        return F.aggregate(quant, F.lit(0).cast("long"), lambda a, x: a + x)

    return emb.select(
        "vec_id",
        _quant_sum("embedding").alias("q_sum"),
        _quant_sum("white").alias("q_sum_white"),
        F.size("embedding").cast("long").alias("dim"),
    )


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k neighbor search: query vecs (vec_id < 5) vs all
    others; broadcast the small query side (ANN baseline)."""
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, queries, k=3).select("query_id", "vec_id", "rank")


# ---------------------------------------------------------------------------
# Dedup / similarity queries (SURVEY.md training-data-pipeline extras)
# ---------------------------------------------------------------------------

_SHINGLE_N = 5


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs(
        _read(spark, sf_dir, "documents"), "doc_id", "text", n=_SHINGLE_N, threshold=0.5
    )


def _q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components (bounded-probe AUTO path —
    driver union-find under the cap, large-star/small-star contraction above
    it) over the LSH-verified near-dup pairs — the production composition
    (MinHash→LSH→verify→CC).
    Feeding CC from full-corpus exact Jaccard would run the O(Σ freq²)
    shingle self-join LSH exists to avoid (1.5e9 intermediate rows at sf0.1
    on this stop-shingle-heavy corpus); the exact path remains available as
    the oracle twin (`ngram_jaccard`). The smallest id of each component is
    the survivor."""
    from video_features_spark.operators.dedup import dedup_groups

    # 64 hashes / 16 bands = 4 rows per band: r=4 keeps low-jaccard pairs out
    # of the candidate set (this corpus has millions of moderate-similarity
    # pairs) while 16 bands lift recall at j=0.5 to ~0.65 and j>=0.7 to ~0.99
    pairs = minhash_dedup(
        _read(spark, sf_dir, "documents"), "doc_id", "text",
        n_hashes=64, bands=16, shingle_n=_SHINGLE_N, threshold=0.5,
    )
    return dedup_groups(pairs).select("id", "component", "is_kept")


def _q_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash→LSH→verify chain. Banding hashes are md5-prefix ints, so
    DuckDB reproduces candidate generation AND verification exactly — the
    whole pipeline is oracle-checked, not just its stages."""
    return minhash_dedup(
        _read(spark, sf_dir, "documents"), "doc_id", "text",
        n_hashes=32, bands=8, shingle_n=_SHINGLE_N, threshold=0.5,
    )


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures (md5-prefix token hash → engine-neutral, oracled)."""
    return simhash_signatures(_read(spark, sf_dir, "documents"), "doc_id", "text")


def _q_embedding_near_dup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked near-dup (the 100 TB path: bucket self-join, no cartesian).
    Oracle generated from the same seeded plane literals."""
    from video_features_spark.operators.dedup import embedding_near_dup_blocked

    return embedding_near_dup_blocked(
        _read(spark, sf_dir, "embeddings"), "vec_id",
        dim=64, threshold=0.4, n_planes=4, n_tables=4,
    )


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN (rows-only; recall vs the oracle-checked
    brute-force cosine_topk is gated in tests)."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_ann_topk(emb, q, k=5, dim=64, n_planes=2, n_tables=4).select(
        "query_id", "vec_id", "rank"
    )


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: k-means cells + nprobe probing. Oracle-checked:
    the fit is deterministic (hash-ordered sample + seeded farthest-point
    k-means), so ``_ann_ivf_oracle`` re-derives the identical centroids outside
    Spark and bakes them into the DuckDB SQL as literals — the same pattern the
    LSH oracles use for plane literals. Recall vs brute force gated in tests."""
    from video_features_spark.operators.similarity import ivf_ann_topk

    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_ann_topk(emb, q, k=5, n_centroids=16, nprobe=4).select(
        "query_id", "vec_id", "rank"
    )


_JACCARD_ORACLE = f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, ('0x'||substr(md5(s),1,8))::BIGINT AS h
      FROM (SELECT doc_id, unnest(list_distinct(list_transform(
              range(1, greatest(length(text)-{_SHINGLE_N}+1, 1)+1),
              i -> substr(text, i::INT, {_SHINGLE_N})))) AS s FROM documents)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, i::DOUBLE / (sa.sz + sb.sz - i) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
    WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.5
"""

# connected components over the LSH-verified pairs (same chain as the Spark
# query): transitive closure by recursive CTE, component = min reachable id.
# Defined as a function because the pairs CTE is generated from the MinHash
# band construction.
def _dedup_groups_oracle() -> str:
    return f"""
        WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({_minhash_lsh_oracle(n_hashes=64, bands=16)}) lshp),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        comp AS (
          SELECT src AS id, least(src, min(dst)) AS component
          FROM reach GROUP BY src)
        SELECT id, component, id = component AS is_kept FROM comp
    """

# ---------------------------------------------------------------------------
# Image-pipeline queries (pandas-UDF operators; rows-only driver check, full
# correctness gates in tests/) — sized by sf for bounded runtime.
# ---------------------------------------------------------------------------

_SF_ROWS = {"sf0.001": 300, "sf0.01": 1000, "sf0.1": 4000}


def _n_images(sf_dir: str) -> int:
    return _SF_ROWS.get(os.path.basename(sf_dir.rstrip("/")), 1000)


def _count_is(expected: int, msg: str, view: Callable[[DataFrame], DataFrame] | None = None):
    """Gate: the frame (or ``view`` of it) has exactly ``expected`` rows."""

    def gate(df: DataFrame) -> None:
        n = (view(df) if view else df).count()
        if n != expected:
            raise AssertionError(f"invariant violated: {msg}: got {n}, expected {expected}")

    return gate


def _none_where(cond, msg: str, view: Callable[[DataFrame], DataFrame] | None = None):
    """Gate: no row of the frame (or ``view`` of it) satisfies ``cond``."""

    def gate(df: DataFrame) -> None:
        if (view(df) if view else df).filter(cond).limit(1).count():
            raise AssertionError(f"invariant violated: {msg}")

    return gate


def _leak_free(df: DataFrame) -> None:
    """Gate: every as-of match is strictly before its label."""
    assert_no_leakage(df, "label_ts", "ts_asof", strict=True)


def _local(df: DataFrame) -> DataFrame:
    """A driver-local copy of ``df``'s rows, taken in one action: later
    actions on the copy re-run none of ``df``'s plan. Arrow carries
    timestamps as epoch micros and float32 arrays as-is, so the copy is
    exact."""
    return df.sparkSession.createDataFrame(df.toArrow(), schema=df.schema)


def _gated(df: DataFrame, *gates: Callable[[DataFrame], None], cols=None) -> DataFrame:
    """The one materialize → gate → release step of a gated query. ``df`` is
    cached once, because every gate that re-read its plan would re-run the
    Python decode+embed UDF; each gate runs against the cache; the result is
    a driver-local copy of the rows (``cols`` of them, if given); and the
    cache is released in a ``finally``, so a failing gate releases it too.

    The gates make rows-only queries over in-Spark-generated media loud:
    generation is deterministic, so expected counts/bounds are computable
    from the parameters and a silent operator regression turns into a driver
    error instead of an unchecked row count."""
    df.cache()
    try:
        for gate in gates:
            gate(df)
        return _local(df.select(*cols) if cols else df)
    finally:
        df.unpersist()


def _sq_norm(col: str, name: str):
    """Squared L2 norm of an array<float> column as Spark folds it (float32
    products, sequential double sum); ``_seq_fold_sq`` is the oracle twin."""
    return F.aggregate(col, F.lit(0.0), lambda a, x: a + x * x).alias(name)


def _off_unit_norm(col: str):
    """A squared norm more than 1e-4 away from 1 (null never matches)."""
    return (F.col(col) > 1.0 + 1e-4) | (F.col(col) < 1.0 - 1e-4)


def _decoded(feats: DataFrame) -> DataFrame:
    """Feature rows that decoded and embedded: a quarantined row (error set,
    embedding null) must not win an as-of match."""
    return feats.filter(F.col("error").isNull())


def _q_image_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _n_images(sf_dir)
    n_ent = max(n // 50, 1)
    imgs = generate_images(spark, n, n_entities=n_ent)
    feats = extract_image_features(imgs, "clip-small-det")
    labels = generate_labels(spark, n // 2, n_entities=n_ent)
    joined = asof_join(
        labels,
        _decoded(feats).select("entity_id", "ts", "embedding"),
        on=["entity_id"],
        left_ts="label_ts",
        right_ts="ts",
        strict=True,
    )
    out = joined.select(
        "entity_id", "label_ts", "label", F.col("ts_asof"),
        _sq_norm("embedding", "emb_sq_norm"),
    )
    return _gated(
        out,
        _leak_free,
        _count_is(n // 2, "one output row per label probe"),
        _none_where(
            _off_unit_norm("emb_sq_norm"),
            "embeddings are L2-normalized: squared norm must be 1",
        ),
    )


def _q_asof_image_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship's match on metadata alone: the same labels strictly as-of
    joined to the same images' ``(entity_id, ts, image_id)``, with no decode
    and no embed. ``image_id`` is the match key a decode of only the matched
    images would join back on. The image bytes never reach the exchange
    (plan_audit #15)."""
    n = _n_images(sf_dir)
    n_ent = max(n // 50, 1)
    return asof_join(
        generate_labels(spark, n // 2, n_entities=n_ent),
        generate_images(spark, n, n_entities=n_ent).select("entity_id", "ts", "image_id"),
        on=["entity_id"],
        left_ts="label_ts",
        right_ts="ts",
        right_cols=["image_id"],
        strict=True,
    )


def _q_image_caption_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _n_images(sf_dir)
    imgs = generate_images(spark, n, n_entities=max(n // 50, 1))
    feats = extract_image_features(imgs, "clip-small-det")
    caps = embed_caption_column(imgs.select("image_id", "caption"), "clip-small-det")
    both = feats.join(caps, "image_id")
    return _gated(
        image_text_similarity(both).select("image_id", "img_txt_sim"),
        _count_is(n, "one similarity row per image"),
        _none_where(
            F.col("img_txt_sim").isNotNull() & (F.abs("img_txt_sim") > 100.0 + 1e-3),
            "logit = 100 * cosine of unit vectors: |logit| <= 100",
        ),
    )


def _q_image_phash_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _n_images(sf_dir)
    imgs = generate_images(spark, n, n_entities=max(n // 50, 1))
    out = sessionize(imgs, ["phash"], "ts", gap_seconds=3600, tiebreak_col="image_id").select(
        "image_id", "phash", "ts", "session_id"
    )
    return _gated(
        out,
        _count_is(n, "sessionize is row-preserving"),
        _none_where(
            (F.col("lo") != 1) | (F.col("hi") > F.col("cnt")) | (F.col("hi") != F.col("nsess")),
            "session ids must be dense 1..n_sessions within each phash group",
            view=lambda d: d.groupBy("phash").agg(
                F.min("session_id").alias("lo"), F.max("session_id").alias("hi"),
                F.count(F.lit(1)).alias("cnt"), F.countDistinct("session_id").alias("nsess"),
            ),
        ),
    )


def _q_image_pair_motion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-frame pair features (reference flow pattern, J1)."""
    from video_features_spark.operators.temporal_features import consecutive_pair_features

    n = _n_images(sf_dir)
    n_ent = max(n // 50, 1)
    imgs = generate_images(spark, n, n_entities=n_ent)
    return _gated(
        consecutive_pair_features(imgs),
        _count_is(n - n_ent, "T frames per entity yield T-1 pairs"),
        _none_where(
            F.col("error").isNull()
            & ((F.col("mean_abs_motion") < 0) | (F.col("changed_frac") < 0)
               | (F.col("changed_frac") > 1)),
            "pair features must be in range when no error",
        ),
        _none_where(
            F.col("error").isNotNull()
            & (F.col("mean_abs_motion").isNotNull() | F.col("changed_frac").isNotNull()),
            "quarantined rows carry null features",
        ),
    )


def _q_image_pair_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-input model head over consecutive-frame pairs (the reference's
    RAFT flow architecture: model(img_t, img_t+1) in ONE forward,
    raft_src/raft.py:118-177) — the J1 pairing feeding a pair encoder from
    the embed registry. Mixed-size pairs are legal (both frames preprocess
    first), so every pair embeds: exact count invariant + unit-norm gate."""
    from video_features_spark.operators.temporal_features import consecutive_pair_embeddings

    n = min(_n_images(sf_dir), 500)
    n_ent = max(n // 50, 1)
    imgs = generate_images(spark, n, n_entities=n_ent)
    out = consecutive_pair_embeddings(imgs).select(
        "entity_id", "ts", "next_ts", _sq_norm("embedding", "emb_sq_norm"), "error",
    )
    return _gated(
        out,
        _count_is(n - n_ent, "T frames per entity yield T-1 pair embeddings"),
        _none_where(
            F.col("error").isNull() & _off_unit_norm("emb_sq_norm"),
            "pair embeddings are L2-normalized",
        ),
        _none_where(
            F.col("error").isNotNull() & F.col("emb_sq_norm").isNotNull(),
            "quarantined pairs carry null embeddings",
        ),
    )


def _q_image_pair_flow_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DENSE flow output for the RAFT analog (the reference emits a 2×H×W
    field per pair, ``raft_src/raft.py:118-177`` — not just a pair embedding):
    an 8×8×2 coarse motion grid per consecutive pair, digested to the pinned
    float32-fold sq-norm scalar (driver canonicalizer can't sort arrays).
    Shape is gated in-query: every non-quarantined pair carries exactly
    2·8·8 = 128 flow values."""
    from video_features_spark.operators.temporal_features import consecutive_pair_flow_fields

    n = min(_n_images(sf_dir), 500)
    n_ent = max(n // 50, 1)
    imgs = generate_images(spark, n, n_entities=n_ent)
    out = consecutive_pair_flow_fields(imgs, grid=8).select(
        "entity_id", "ts", "next_ts",
        F.size("flow").alias("flow_dim"), _sq_norm("flow", "flow_sq_norm"), "error",
    )
    return _gated(
        out,
        _count_is(n - n_ent, "T frames per entity yield T-1 flow fields"),
        _none_where(
            F.col("error").isNull() & (F.col("flow_dim") != 2 * 8 * 8),
            "flow fields are dense 2x8x8 grids",
        ),
    )


def _q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 video scan, executable end to end: MJPEG-in-AVI clips (real RIFF
    container, real baseline-JPEG frames) → ``extract_video_frames`` (the
    reference's VideoCapture read loop + ts derivation, ``utils/io.py:96-154``,
    as one map-only pass) → per-frame decode through the same codec the image
    pipeline uses. Emits engine-neutral decode proof (shape + pixel sum);
    frame-count exactness is gated in-query against the clips' own metadata
    (``n_frames`` rides through the demux, so the gates read only the
    cached frame rows, not a second generation of the clips)."""
    from video_features_spark.functions.codec import decode_image
    from video_features_spark.operators.video import extract_video_frames
    from video_features_spark.sources.datagen import generate_videos

    n = max(_n_images(sf_dir) // 20, 10)
    vids = generate_videos(spark, n, n_entities=max(n // 5, 1))
    frames = extract_video_frames(vids, id_cols=("video_id", "n_frames"))

    def stats(batches):
        for b in batches:
            hh, ww, ps = [], [], []
            for i in range(len(b)):
                if b["error"].iloc[i] is not None:  # quarantined clip: gated below
                    hh.append(None)
                    ww.append(None)
                    ps.append(None)
                    continue
                img = decode_image(bytes(b["bytes"].iloc[i]), b["fmt"].iloc[i])
                hh.append(img.shape[0])
                ww.append(img.shape[1])
                ps.append(int(img.astype("int64").sum()))
            out = b[["video_id", "n_frames", "frame_idx", "frame_ts", "error"]].copy()
            out["frame_h"] = hh
            out["frame_w"] = ww
            out["pix_sum"] = ps
            yield out

    out = frames.mapInPandas(
        stats,
        schema=(
            "video_id string, n_frames int, frame_idx int, frame_ts timestamp, "
            "error string, frame_h int, frame_w int, pix_sum long"
        ),
    )

    def per_clip(d: DataFrame) -> DataFrame:
        return d.groupBy("video_id", "n_frames").count()

    return _gated(
        out,
        _none_where(F.col("error").isNotNull(), "no clip quarantines"),
        _count_is(n, "every clip yields its frames", view=per_clip),
        _none_where(
            F.col("count") != F.col("n_frames"),
            "every container frame becomes a row",
            view=per_clip,
        ),
        cols=("video_id", "frame_idx", "frame_ts", "frame_h", "frame_w", "pix_sum"),
    )


def _q_image_stack_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-stack mean-pooled clip embeddings (S3D/A1 pattern)."""
    from video_features_spark.operators.temporal_features import stack_mean_pool

    n = _n_images(sf_dir)
    n_ent = max(n // 50, 1)
    imgs = generate_images(spark, n, n_entities=n_ent)
    feats = extract_image_features(imgs, "clip-small-det")
    pooled = stack_mean_pool(feats, stack_size=8, step_size=4)
    out = pooled.select(
        "entity_id", "stack_start_idx", "stack_ts",
        _sq_norm("stack_embedding", "stack_sq_norm"),
    )
    per_entity = n // n_ent
    return _gated(
        out,
        _count_is(n_ent * ((per_entity - 8) // 4 + 1), "complete stacks per entity"),
        _none_where(
            (F.col("stack_sq_norm") > 1.0 + 1e-4) | (F.col("stack_sq_norm") <= 0),
            "mean of unit vectors has norm in (0, 1]",
        ),
    )


def _q_image_zero_shot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-style zero-shot classification (J2 cross-join + W6 top-k). The
    driver output carries the LOGIT, not the softmax prob: logits are exact
    JVM double folds the oracle replays bit-for-bit, while exp() differs by
    ulps between the JVM's and numpy's libm — the softmax bounds stay
    asserted in-plan and gated in pytest."""
    from video_features_spark.operators.temporal_features import zero_shot_classify

    n = min(_n_images(sf_dir), 500)
    imgs = generate_images(spark, n, n_entities=max(n // 50, 1))
    feats = extract_image_features(imgs, "clip-small-det")
    return _gated(
        zero_shot_classify(feats, list(_ZS_CAPTIONS), top_k=3),
        _count_is(n * 3, "exactly top_k rows per image"),
        _none_where(
            (F.col("prob") <= 0) | (F.col("prob") > 1) | (F.col("rank") < 1) | (F.col("rank") > 3),
            "probs in (0, 1], rank in 1..top_k",
        ),
        cols=("image_id", "class_id", "rank", "logit"),
    )


def _q_image_phash_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North rule verbatim: as-of join keyed by PHASH with explicit salting of
    hot phash buckets. The synthetic corpus is heavy-tailed by construction
    (two base patterns own ~30% of rows → hot phash keys); probes are each
    image's phash 5 minutes later, features are phash-keyed embeddings.
    Strict + leakage-gated. Rows-only (images are generated)."""
    n = _n_images(sf_dir)
    imgs = generate_images(spark, n, n_entities=max(n // 50, 1))
    feats = extract_image_features(imgs, "clip-small-det", id_cols=("image_id", "phash", "ts"))
    probes = imgs.select(
        "image_id",
        "phash",
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("label_ts"),
    )
    joined = asof_join(
        probes,
        _decoded(feats).select("phash", "ts", "embedding"),
        on=["phash"],
        left_ts="label_ts",
        right_ts="ts",
        strict=True,
        salt_threshold=max(n // 20, 10),  # hot phash buckets get salted
        num_salts=8,
    )
    return _gated(
        joined.select(
            "image_id", "phash", "label_ts", "ts_asof", _sq_norm("embedding", "emb_sq_norm"),
        ),
        _leak_free,
    )


def _q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout query: both join sides are written bucketBy(user_id)
    with the same bucket count, then joined — the bucketed-scan distribution
    satisfies the join requirement, so the plan carries NO Exchange (asserted
    in-query under a disabled broadcast threshold; the values are layout-
    independent, so the oracle is the plain SQL join). At 100 TB this is the
    amortize-one-shuffle-at-write-time pattern for the feature store.
    Catalog tables and /tmp data are dropped before returning (the small
    aggregate is materialized first)."""
    import shutil

    from video_features_spark.sources.bucketed import drop_table, read_bucketed, write_bucketed

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/vfs_bucketed_{tag}"
    ev = _read(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    feat = (
        _read(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.max("o_totalprice").alias("feat_price"))
        .withColumnRenamed("o_custkey", "user_id")
    )
    write_bucketed(ev, f"vfs_ev_{tag}", ["user_id"], 8,
                   sort_cols=["user_id", "ts"], path=f"{base}/ev")
    write_bucketed(feat, f"vfs_feat_{tag}", ["user_id"], 8, path=f"{base}/feat")
    out = (
        read_bucketed(spark, f"vfs_ev_{tag}")
        .join(read_bucketed(spark, f"vfs_feat_{tag}"), "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum("value").alias("sum_value"),
            F.max("feat_price").alias("feat_price"),
        )
    )
    # self-audit: the co-location contract must hold, or this query fails loudly
    with session_conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        if "Exchange" in out._jdf.queryExecution().executedPlan().toString():
            raise AssertionError("bucketed join planned an Exchange — co-location broken")
        # materialize the (small) aggregate off the bucketed scans so the
        # catalog tables and /tmp dirs can be cleaned up before returning —
        # repeated driver runs must leave no residue
        rows = _local(out)
    drop_table(spark, f"vfs_ev_{tag}")
    drop_table(spark, f"vfs_feat_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    return rows


def _q_audio_logmel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio family end-to-end (S5/S6/P17/A6): WAV demux → mono mixdown →
    log-mel examples → 128-d embedding, one row per 0.96 s example. Rows-only
    (clips generated in-Spark) but invariant-gated: the exact example count
    per clip is computable from n_samples WITHOUT decoding (``n_samples``
    rides through the operator), and embeddings must be unit-norm."""
    from video_features_spark.operators.audio import extract_audio_features
    from video_features_spark.sources.datagen import generate_audio

    n = max(_n_images(sf_dir) // 5, 20)
    feats = extract_audio_features(
        generate_audio(spark, n), id_cols=("clip_id", "entity_id", "n_samples")
    )
    out = feats.filter(F.col("error").isNull()).select(
        "clip_id", "entity_id", "example_idx", "n_samples",
        _sq_norm("embedding", "emb_sq_norm"),
    )
    return _gated(
        out,
        _none_where(
            F.col("count")
            != F.floor((F.lit(1) + F.floor((F.col("n_samples") - 400) / 160)) / 96),
            "example count per clip must equal the framing formula over n_samples",
            view=lambda d: d.groupBy("clip_id", "n_samples").count(),
        ),
        _none_where(_off_unit_norm("emb_sq_norm"), "audio embeddings are L2-normalized"),
        cols=("clip_id", "entity_id", "example_idx", "emb_sq_norm"),
    )


def _q_image_augmented_fp16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12+P20 composition: seeded-deterministic augmentation + fp16-quantized
    weights. Invariants: row-preserving, unit-norm, and the augmented
    embeddings must differ from the clean pipeline for a majority of rows
    (augmentation actually happened) while staying deterministic."""
    n = min(_n_images(sf_dir), 500)
    imgs = generate_images(spark, n, n_entities=max(n // 50, 1))
    feats = extract_image_features(imgs, "clip-small-det", precision="fp16", augment_seed=11)
    return _gated(
        feats.select("image_id", _sq_norm("embedding", "emb_sq_norm")),
        _count_is(n, "augmentation is row-preserving"),
        _none_where(_off_unit_norm("emb_sq_norm"), "fp16 embeddings stay L2-normalized"),
    )


_CKPT_FILE = "vfs_r5_ckpt.npz"
_CKPT_SEED = 20260817
_BPE_VOCAB_FILE = "vfs_r5_bpe_vocab.txt.gz"


def _q_image_checkpoint_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/§2.7 REAL-WEIGHTS seam end to end (the reference's download +
    SHA256 + load contract, ``clip_src/clip.py:45-74``): write a deterministic
    ``.npz`` checkpoint, ``register_checkpoint`` it (SparkContext.addFile +
    SHA256 pin), and run the flagship image pipeline THROUGH the
    SparkFiles-verified loader — not the seeded fallback. The registry is
    restored afterwards so no other query sees the registration. Oracle:
    regenerate the same checkpoint (pure function of the seed) and embed with
    the same loader under BLAS-1."""
    from video_features_spark.functions import embed as embed_mod

    n = min(_n_images(sf_dir), 500)
    imgs = generate_images(spark, n, n_entities=max(n // 50, 1))
    path = os.path.join(_fresh_tmp("vfs_ckpt_npz_"), _CKPT_FILE)
    embed_mod.synth_checkpoint_npz("clip-small-det", path, _CKPT_SEED)
    prior = embed_mod.checkpoint_for("clip-small-det")
    embed_mod.register_checkpoint(spark, "clip-small-det", path)
    try:
        # the (filename, sha256) pin is captured into the UDF closure HERE —
        # restoring the registry below cannot un-pin the built plan
        feats = extract_image_features(imgs, "clip-small-det")
    finally:
        if prior is None:
            embed_mod._CHECKPOINTS.pop("clip-small-det", None)
        else:
            embed_mod._CHECKPOINTS["clip-small-det"] = prior
    return _gated(
        feats.select("image_id", _sq_norm("embedding", "emb_sq_norm")),
        _count_is(n, "checkpoint-weight embedding is row-preserving"),
        _none_where(
            _off_unit_norm("emb_sq_norm"), "checkpoint-weight embeddings stay L2-normalized"
        ),
    )


def _q_caption_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenization of captions (P19: simple_tokenizer semantics),
    BOTH vocab paths in ONE map-only pass: the deterministic trained merge
    table AND a REGISTERED vocab file — the ``bpe_simple_vocab_16e6.txt.gz``
    drop-in seam (write the reference-format fixture, ``register_vocab`` =
    SparkFiles + SHA256 pin + the reference's merge slice and 0-based id
    layout, tokenize through it). Not SQL-expressible → digest-replay oracle;
    the algorithm gates live in tests/test_bpe.py."""
    from video_features_spark.functions import bpe
    from video_features_spark.operators.features import caption_bpe_tokenize

    n = _n_images(sf_dir)
    imgs = generate_images(spark, n, n_entities=max(n // 50, 1))
    base = imgs.select("image_id", "caption")
    toks = caption_bpe_tokenize(base)  # default trained table
    vpath = os.path.join(_fresh_tmp("vfs_bpe_vocab_"), _BPE_VOCAB_FILE)
    bpe.write_fixture_vocab(vpath)
    bpe.register_vocab(spark, vpath)
    try:
        # second tokenizer column in the SAME stage (withColumn chain — no
        # shuffle); the vocab pin rides this UDF's closure
        toks = caption_bpe_tokenize(toks, out_col="token_ids_vocab")
    finally:
        bpe.unregister_vocab()
    # scalar columns only: the driver canonicalizer sorts values, and raw array
    # columns are unhashable there — digest the sequences instead
    return toks.select(
        "image_id",
        F.size(F.filter("token_ids", lambda t: t != 0)).alias("n_tokens"),
        F.xxhash64(
            F.concat_ws(",", F.transform("token_ids", lambda t: t.cast("string")))
        ).alias("token_digest"),
        F.xxhash64(
            F.concat_ws(",", F.transform("token_ids_vocab", lambda t: t.cast("string")))
        ).alias("token_digest_vocab"),
    )


def _fresh_tmp(prefix: str, max_age_sec: int = 7200) -> str:
    """A new temp dir for one run of a query family (resume and stream state
    must not leak between runs), made after removing the family's dirs older
    than ``max_age_sec``: hard-killed runs would otherwise accumulate a full
    orders copy each. Age-gated so a concurrently running harness is never
    clobbered."""
    import glob
    import shutil
    import time

    now = time.time()
    for d in glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*")):
        try:
            if now - os.path.getmtime(d) > max_age_sec:
                shutil.rmtree(d, ignore_errors=True)
        except OSError:
            pass
    return tempfile.mkdtemp(prefix=prefix)


def _q_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 skip-if-done resume as a driver query (the reference's signature
    trick, ``base_extractor.py:95-127``): phase 1 checkpoints HALF the hash
    partitions of ``orders`` (a mid-job crash analog — only part-aligned work
    completed and made it into the manifest), phase 2 re-runs the FULL input
    against the same base. The resume anti-join must skip every completed
    partition (``parts_skipped``) and compute exactly the missing ones
    (``parts_resumed``); the read-back aggregate proves the union landed with
    no loss or duplication. Oracle: partition membership replayed with the
    verified pure-Python xxhash64 replica; totals are plain SQL over orders.
    Returns a driver-local copy of the one result row and deletes the
    checkpoint base before returning."""
    import shutil

    from video_features_spark.sources.checkpoint import (
        PART_COL,
        checkpointed_write,
        read_checkpointed,
        verify_manifest,
        with_partition_id,
    )

    base = _fresh_tmp("vfs_ckpt_resume_")
    try:
        orders = _read(spark, sf_dir, "orders")
        num_parts = 64
        half = (
            with_partition_id(orders, ["o_orderkey"], num_parts)
            .filter(F.col(PART_COL) < num_parts // 2)
            .drop(PART_COL)
        )
        checkpointed_write(half, base, ["o_orderkey"], num_parts)
        stats = checkpointed_write(orders, base, ["o_orderkey"], num_parts)
        # the reference's "loads without error" half (base_extractor.py:102-118):
        # recount + re-checksum every partition against its latest manifest row
        drift = verify_manifest(spark, base).count()
        return _local(
            read_checkpointed(spark, base)
            .agg(
                F.count(F.lit(1)).alias("rows_total"),
                _dsum("o_totalprice", scale=2).alias("sum_totalprice"),
            )
            .select(
                F.lit(stats["parts_total"]).alias("parts_total"),
                F.lit(stats["parts_skipped"]).alias("parts_skipped"),
                F.lit(stats["parts_written"]).alias("parts_resumed"),
                F.lit(drift).alias("drift_rows"),
                "rows_total",
                "sum_totalprice",
            )
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _stream_events(
    spark: SparkSession,
    sf_dir: str,
    view_prefix: str,
    build: Callable[[DataFrame], DataFrame],
    cols,
) -> DataFrame:
    """The one stream runner: ``build`` over the events table arriving as a
    STREAM (file source, ``trigger(availableNow=True)``) into a complete-mode
    memory sink, run to the end; returns a driver-local copy of ``cols`` of
    the sink and drops the sink's temp view. State-store task count follows
    the session's parallelism instead of the batch shuffle-partition
    default: each streaming-agg partition pays a per-trigger state-store
    open/commit, pure overhead beyond ~cores for an availableNow batch this
    size (sized from the session, not a constant; restored afterwards)."""
    # the file stream source lists a DIRECTORY; driver testdata is one file —
    # link it into a temp dir (no data copy)
    src_dir = _fresh_tmp("vfs_stream_")
    os.symlink(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(src_dir, "events.parquet"),
    )
    events = spark.readStream.schema(_read(spark, sf_dir, "events").schema).parquet(src_dir)
    out = build(events)
    name = f"{view_prefix}_{uuid.uuid4().hex[:8]}"
    try:
        with session_conf(
            spark, "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        ):
            (
                out.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
        return _local(spark.table(name).select(*cols))
    finally:
        spark.catalog.dropTempView(name)


def _q_stream_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 streaming parity as a driver query: the SAME point-in-time
    enrichment as ``asof_window`` with the probe side arriving as a STREAM
    through ``streaming.ops.stream_asof_lookup``. The oracle is the batch
    ``_ASOF_ORACLE``: stream and batch must agree row-for-row (the
    tiebreak-parity contract the pytest suite pins,
    ``tests/test_streaming.py``). Timestamps round-trip NTZ→TZ→NTZ because
    watermarks require zoned timestamps."""
    from video_features_spark.streaming.ops import stream_asof_lookup

    def build(events: DataFrame) -> DataFrame:
        probes = (
            events.select("event_id", "user_id", "ts")
            # the single-file micro-batch scans as ONE task and the asof join
            # fans each probe out against its key's whole build history
            # before the max collapses it — spread the probe side so that
            # fan-out runs parallel (streaming-legal repartition; content
            # unchanged)
            .repartition(spark.sparkContext.defaultParallelism, "user_id")
        )
        return stream_asof_lookup(
            probes,
            _order_features(spark, sf_dir),
            on=["user_id"],
            left_ts="ts",
            right_ts="o_orderdate",
            strict=True,
        )

    return _stream_events(spark, sf_dir, "qsa", build, (
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "feat_price",
        F.col("o_orderdate_asof").cast("timestamp_ntz").alias("o_orderdate_asof"),
    ))


def _q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 streaming AGGREGATION parity (beyond the stream-asof lookup): the
    same daily tumbling count/sum as ``tumbling_daily`` with events arriving
    as a STREAM through a watermarked event-time window
    (``streaming.ops.stream_tumbling_agg``). Complete output mode so the
    final window (above the watermark at stream end) is emitted too; the
    oracle is the batch tumbling SQL — stream and batch must agree
    row-for-row."""
    from video_features_spark.streaming.ops import stream_tumbling_agg

    return _stream_events(
        spark, sf_dir, "qst",
        lambda events: stream_tumbling_agg(events, ["user_id"], "ts", "1 day"),
        ("user_id", F.col("win_start").cast("timestamp_ntz").alias("win_start"),
         "n_events", "sum_value"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synth images → decode+embed (Arrow UDF) → strict as-of join
    against labels → leakage gate → point-in-time training rows."""
    n, n_ent = 300, 6
    imgs = generate_images(spark, n, n_entities=n_ent)
    feats = extract_image_features(imgs, "clip-small-det")
    labels = generate_labels(spark, 150, n_entities=n_ent)
    joined = asof_join(
        labels,
        _decoded(feats).select("entity_id", "ts", "embedding"),
        on=["entity_id"],
        left_ts="label_ts",
        right_ts="ts",
        strict=True,
    )
    return _gated(joined, _leak_free)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 50 entries, most-load-bearing first (the driver's correctness
    sweep records the first 50 — r4 lesson). Consolidations, coverage kept:
    ``rollup_sales``+``cube_sales`` → ``grouping_sets_sales`` (the CUBE
    lattice via explicit grouping sets), ``distinct_sketch`` folded into
    ``distinct_guard`` (exact + HLL in one agg), ``langid_scores`` subsumed
    by ``langid_ngram``, ``minhash_sigs`` by ``minhash_lsh_dedup`` (band
    hashes are a bijection of the signatures), ``sort_limit`` by ``tpch_q3``
    (same TakeOrderedAndProject tail), exact embedding near-dup by
    ``embedding_near_dup_blocked`` (same cosine verify on candidates; its
    pytest gate checks it against a numpy brute force)."""
    return {
        # -- marquee pipelines + seams (image/video/audio, checkpoint, stream)
        "image_flagship": _q_image_flagship,
        "checkpoint_resume": _q_checkpoint_resume,
        "stream_asof": _q_stream_asof,
        "stream_tumbling": _q_stream_tumbling,
        "image_checkpoint_weights": _q_image_checkpoint_weights,
        "caption_bpe": _q_caption_bpe,
        "bucketed_join": _q_bucketed_join,
        "image_augmented_fp16": _q_image_augmented_fp16,
        "video_frames": _q_video_frames,
        "audio_logmel": _q_audio_logmel,
        # -- point-in-time joins
        "asof_window": _q_asof(),
        "asof_merge": _q_asof_image_match,
        "asof_salted": _q_asof(salt=8),
        "image_phash_asof": _q_image_phash_asof,
        # -- temporal/pair image operators
        "image_pair_flow_field": _q_image_pair_flow_field,
        "image_pair_flow": _q_image_pair_flow,
        "image_pair_motion": _q_image_pair_motion,
        "image_phash_sessions": _q_image_phash_sessions,
        "image_stack_pool": _q_image_stack_pool,
        "image_zero_shot": _q_image_zero_shot,
        "image_caption_sim": _q_image_caption_sim,
        # -- dedup / similarity / curation
        "minhash_lsh_dedup": _q_minhash_lsh_dedup,
        "dedup_groups": _q_dedup_groups,
        "ngram_jaccard": _q_ngram_jaccard,
        "simhash_sigs": _q_simhash,
        "embedding_near_dup_blocked": _q_embedding_near_dup_blocked,
        "dedup_exact": _q_dedup_exact,
        "curate_corpus": _q_curate_corpus,
        "ann_lsh_topk": _q_ann_lsh,
        "ann_ivf_topk": _q_ann_ivf,
        "cosine_topk": _q_cosine_topk,
        "embedding_quantize": _q_embedding_quantize,
        # -- text analysis
        "langid_ngram": _q_langid_ngram,
        "text_quality": _q_text_quality,
        "token_count": _q_token_count,
        "doc_fingerprints": _q_doc_fingerprints,
        # -- windows / time-series
        "lag_lead": _q_lag_lead,
        "backfill": _q_backfill,
        "sessionize": _q_sessionize,
        "resample": _q_resample,
        "sliding_stacks": _q_sliding_stacks,
        "tumbling_daily": _q_tumbling_daily,
        "rolling_7d": _q_rolling_7d,
        "percentiles": _q_percentiles,
        "topk_per_group": _q_topk,
        # -- OLAP breadth
        "stats_lineitem": _q_stats,
        "distinct_guard": _q_distinct_guard,
        "grouping_sets_sales": _q_grouping_sets_sales,
        "tpch_q1": _q_tpch_q1,
        "tpch_q3": _q_tpch_q3,
    }


def _minhash_lsh_oracle(
    n_hashes: int = 32, bands: int = 8, threshold: float = 0.5, source: str = "documents"
) -> str:
    """DuckDB twin of operators.dedup.minhash_dedup, generated from the same
    hash params and band construction so the two can never drift: signatures →
    md5-prefix band hashes → candidate self-join → exact Jaccard on candidates.
    ``source`` is any relation with (doc_id, text) — a view or an outer CTE."""
    rpb = n_hashes // bands
    shingles = (
        "SELECT doc_id, unnest(list_distinct(list_transform("
        f"range(1, greatest(length(text)-{_SHINGLE_N}+1, 1)+1), "
        f"i -> substr(text, i::INT, {_SHINGLE_N})))) AS s FROM {source}"
    )
    mins = ", ".join(
        f"min(({a}*h + {b}) % 4294967311) AS m{i}"
        for i, (a, b) in enumerate(_hash_params(n_hashes))
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        "('0x'||substr(md5(concat_ws(',', "
        + ", ".join(f"m{b * rpb + j}" for j in range(rpb))
        + f", 'b{b}')),1,8))::BIGINT AS band_hash FROM sig"
        for b in range(bands)
    )
    return f"""
        WITH sh AS (SELECT DISTINCT doc_id, ('0x'||substr(md5(s),1,8))::BIGINT AS h
                    FROM ({shingles})),
        sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
        banded AS ({band_selects}),
        cands AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.id_a, c.id_b, count(*) AS i
          FROM cands c
          JOIN sh a ON a.doc_id = c.id_a
          JOIN sh b ON b.doc_id = c.id_b AND b.h = a.h
          GROUP BY 1, 2)
        SELECT id_a, id_b, i::DOUBLE / (sa.sz + sb.sz - i) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= {threshold}
    """


def _simhash_oracle(bits: int = 32) -> str:
    """DuckDB twin of operators.dedup.simhash_signatures (md5-prefix token
    hash, weighted bit votes, sign)."""
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN w ELSE -w END) AS v{i}"
        for i in range(bits)
    )
    sig = " + ".join(f"CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(bits))
    return rf"""
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
          FROM documents),
        wt AS (SELECT doc_id, tok, count(*) AS w FROM toks GROUP BY 1, 2),
        ht AS (SELECT doc_id, ('0x'||substr(md5(tok),1,8))::BIGINT AS h, w FROM wt),
        votes AS (SELECT doc_id, {votes} FROM ht GROUP BY doc_id)
        SELECT doc_id, ({sig})::BIGINT AS simhash FROM votes
    """


def _lsh_bucket_sql(emb: str, dim: int, n_planes: int, n_tables: int, seed: int = 7) -> list[str]:
    """One DuckDB bucket expression per hash table, generated from the SAME
    seeded plane literals operators.similarity bakes into the Spark plan."""
    from video_features_spark.operators.similarity import _planes

    exprs = []
    for t in range(n_tables):
        bits = []
        for i, plane in enumerate(_planes(dim, n_planes, seed + 1009 * t)):
            lits = ", ".join(repr(float(v)) for v in plane)
            dot = f"list_sum(list_transform(list_zip({emb}, [{lits}]), p -> p[1]*p[2]))"
            bits.append(f"CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END")
        exprs.append("(" + " + ".join(bits) + ")")
    return exprs


def _ann_lsh_oracle(k: int = 5, dim: int = 64, n_planes: int = 2, n_tables: int = 4) -> str:
    """DuckDB twin of the lsh_ann_topk driver query (vec_id < 5 queries)."""
    buckets = _lsh_bucket_sql("embedding", dim, n_planes, n_tables)
    cb_cols = ", ".join(f"{b} AS b{t}" for t, b in enumerate(buckets))
    collide = " OR ".join(f"c.b{t} = q.qb{t}" for t in range(n_tables))
    q_cols = ", ".join(f"b{t} AS qb{t}" for t in range(n_tables))
    return f"""
        WITH base AS (
          SELECT vec_id, embedding,
                 sqrt(list_sum(list_transform(embedding, x -> x*x))) AS nrm
          FROM embeddings),
        cb AS (SELECT vec_id, embedding, nrm, {cb_cols} FROM base),
        q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm, {q_cols}
              FROM cb WHERE vec_id < 5),
        cand AS (
          SELECT DISTINCT q.query_id, c.vec_id, c.embedding, c.nrm, q.q_emb, q.q_nrm
          FROM cb c JOIN q ON c.vec_id <> q.query_id AND ({collide})),
        sims AS (
          SELECT query_id, vec_id,
                 list_sum(list_transform(list_zip(embedding, q_emb),
                                         p -> p[1]*p[2])) / (nrm * q_nrm) AS cos
          FROM cand)
        SELECT query_id, vec_id, rank FROM (
          SELECT query_id, vec_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, vec_id ASC) AS rank
          FROM sims)
        WHERE rank <= {k}
    """


def _oracle_sf_dir() -> str:
    """Data path for data-dependent oracle generation. The driver compares
    Spark vs DuckDB at sf0.01; local mirrors override via VFS_ORACLE_SF_DIR."""
    return os.environ.get("VFS_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _oracle_n_images() -> int:
    return _SF_ROWS.get(os.path.basename(_oracle_sf_dir().rstrip("/")), 1000)


def _regen_image_rows(n: int, n_entities: int) -> list[tuple]:
    """Re-run the deterministic image generator outside Spark: every row is a
    pure function of (seed, rid) (sources/datagen._row), so the driver oracle
    can rebuild the image queries' scalar inputs without a SparkSession or a
    run-order dependency on the Spark query having materialized them first."""
    from video_features_spark.sources.datagen import SEED, _row

    if not hasattr(_regen_image_rows, "_memo"):
        _regen_image_rows._memo = {}
    key = (n, n_entities)
    if key not in _regen_image_rows._memo:
        _regen_image_rows._memo[key] = [_row(SEED, rid, n_entities, 0.10) for rid in range(n)]
    return _regen_image_rows._memo[key]


def _sql_str(s: str | None) -> str:
    return "NULL" if s is None else "'" + s.replace("'", "''") + "'"


def _dlit(v: float | None) -> str:
    """Bit-exact DOUBLE literal: scientific notation with 18 significant
    digits. A bare decimal literal (repr) parses as DECIMAL in DuckDB and the
    decimal→double conversion is not correctly-rounded strtod — it lands 1
    ulp off on ~1/3 of values; E-notation parses directly as DOUBLE."""
    return "NULL" if v is None else format(v, ".17e")


def _image_phash_sessions_oracle() -> str:
    """DuckDB twin of image_phash_sessions: the (image_id, phash, ts) inputs
    are regenerated in pure Python (same seeded generator the Spark query
    runs) and baked as a VALUES table; the sessionize SQL is the same shape
    the events-table oracle uses (gap 3600, image_id tiebreak)."""
    n = _oracle_n_images()
    rows = _regen_image_rows(n, max(n // 50, 1))
    values = ", ".join(
        f"('{r[0]}', {r[8]}, TIMESTAMP '{r[2]}')" for r in rows
    )
    return f"""
        WITH imgs(image_id, phash, ts) AS (VALUES {values}),
        lagged AS (
          SELECT image_id, phash, ts,
                 lag(ts) OVER (PARTITION BY phash ORDER BY ts, image_id) AS prev_ts
          FROM imgs)
        SELECT image_id, phash, ts,
               (sum(CASE WHEN prev_ts IS NULL
                         OR epoch(ts) - epoch(prev_ts) > 3600 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY phash ORDER BY ts, image_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
        FROM lagged
    """


def _image_pair_motion_oracle() -> str:
    """DuckDB twin of image_pair_motion: regenerate the images, run the SAME
    decode + pair-metrics kernel the operator's UDF runs
    (operators.temporal_features._pair_metrics over functions.codec decoded
    pixels — bit-identical float64), and bake the expected output as a VALUES
    table. The relational pairing (lead over entity ORDER BY ts) is replayed
    in Python on the same total order (per-entity ts is strictly increasing
    by construction)."""
    from video_features_spark.functions.codec import decode_image
    from video_features_spark.operators.temporal_features import _pair_metrics

    n = _oracle_n_images()
    n_entities = max(n // 50, 1)
    rows = _regen_image_rows(n, n_entities)
    by_entity: dict[str, list[tuple]] = {}
    for r in rows:
        by_entity.setdefault(r[1], []).append(r)
    out = []
    for ent in sorted(by_entity):
        seq = sorted(by_entity[ent], key=lambda r: r[2])  # ts order == seq order
        for a, b in zip(seq, seq[1:]):
            try:
                pa = decode_image(bytes(a[3]), a[6])
                pb = decode_image(bytes(b[3]), b[6])
                m, c = _pair_metrics(pa, pb)
                out.append((ent, a[2], b[2], _dlit(m), _dlit(c), None))
            except Exception as e:  # noqa: BLE001 — same quarantine contract
                out.append((ent, a[2], b[2], "NULL", "NULL", f"{type(e).__name__}: {e}"))
    values = ", ".join(
        f"('{ent}', TIMESTAMP '{ts}', TIMESTAMP '{nts}', {m}, {c}, {_sql_str(err)})"
        for ent, ts, nts, m, c, err in out
    )
    return f"""
        SELECT entity_id, ts, next_ts,
               mean_abs_motion::DOUBLE AS mean_abs_motion,
               changed_frac::DOUBLE AS changed_frac,
               error::VARCHAR AS error
        FROM (VALUES {values})
          AS t(entity_id, ts, next_ts, mean_abs_motion, changed_frac, error)
    """


def _seq_fold_sq(v) -> float:
    """Replicates ``F.aggregate(emb, 0.0D, a + x*x)`` over an array<float>
    column: the product is computed in FLOAT32 (Spark float*float stays
    float), accumulation is sequential in float64 — verified bit-exact
    against Spark on random vectors."""
    return _seq_fold_dot(v, v)


def _seq_fold_dot(a, b) -> float:
    """Replicates ``F.aggregate(zip_with(a, b, x*y), 0.0D, acc + x)`` —
    float32 products, sequential float64 fold."""
    import numpy as np

    prods = np.asarray(a, dtype=np.float32) * np.asarray(b, dtype=np.float32)
    acc = 0.0
    for p in prods:
        acc += float(p)
    return acc


def _regen_embeddings(
    n: int, n_entities: int, model: str = "clip-small-det",
    precision: str = "fp32", augment_seed: int | None = None,
):
    """Decode + (augment) + embed the regenerated image rows with the SAME
    kernels the Spark UDF runs (codec/preprocess/embed are per-row
    batch-invariant by contract, so one big batch here is bit-identical to
    the executors' Arrow batches). Returns float32 (n, dim) aligned with
    ``_regen_image_rows`` order. BIT-EXACTNESS REQUIRES single-threaded BLAS
    (see ``_oracle_payload``): PySpark pins its Python workers to
    OMP_NUM_THREADS = spark.task.cpus (1), and OpenBLAS rounding varies with
    thread count — call this only from a BLAS-1 process."""
    import zlib

    import numpy as np

    from video_features_spark.functions.codec import decode_image
    from video_features_spark.functions.embed import preprocess_and_embed
    from video_features_spark.functions.preprocess import augment_deterministic

    if not hasattr(_regen_embeddings, "_memo"):
        _regen_embeddings._memo = {}
    key = (n, n_entities, model, precision, augment_seed)
    if key not in _regen_embeddings._memo:
        rows = _regen_image_rows(n, n_entities)
        imgs = []
        for r in rows:
            img = decode_image(bytes(r[3]), r[6])
            if augment_seed is not None:
                # same per-row key construction as extract_image_features
                img = augment_deterministic(
                    img, zlib.crc32(str(r[0]).encode()) ^ augment_seed
                )
            imgs.append(img)
        _regen_embeddings._memo[key] = np.asarray(
            preprocess_and_embed(imgs, model, None, precision), dtype=np.float32
        )
    return _regen_embeddings._memo[key]


def _payload_section_main() -> dict:
    """Payload sections sharing the full-size (n, n_ent) image embeddings:
    flagship, caption_sim, stack_pool, phash_asof. BLAS-1 only."""
    import bisect

    import numpy as np
    import pandas as pd

    from video_features_spark.functions.embed import embed_captions
    from video_features_spark.sources.datagen import SEED, _label_row

    n = _oracle_n_images()
    n_ent = max(n // 50, 1)
    rows = _regen_image_rows(n, n_ent)
    embs = _regen_embeddings(n, n_ent)
    sqs = _seq_fold_sq_batch(embs)
    payload: dict = {}

    # flagship: strict as-of of regenerated labels vs per-entity feature ts
    feats: dict[str, list] = {}
    for r, sq in zip(rows, sqs):
        feats.setdefault(r[1], []).append((r[2], sq))
    for v in feats.values():
        v.sort(key=lambda t: t[0])
    flag = []
    for rid in range(n // 2):
        ent, lts, label = _label_row(SEED, rid, n_ent, 50)
        fl = feats.get(ent, [])
        i = bisect.bisect_left([t for t, _ in fl], lts)  # strict: ts < lts
        if i:
            flag.append((ent, str(lts), label, str(fl[i - 1][0]), fl[i - 1][1]))
        else:
            flag.append((ent, str(lts), label, None, None))
    payload["flagship"] = flag

    # caption sim: logit = float32(100 · fold-dot(img, txt))
    caps = embed_captions([r[7] for r in rows], "clip-small-det")
    dots = _seq_fold_dot_batch(embs, caps)
    payload["caption_sim"] = [
        (r[0], float(np.float32(100.0 * d))) for r, d in zip(rows, dots)
    ]

    # stack pool: identical ts-sorted float32 stacking + mean as the operator
    by_e2: dict[str, list] = {}
    for r, e in zip(rows, embs):
        by_e2.setdefault(r[1], []).append((r[2], e))
    meta, pooled_all = [], []
    for ent in sorted(by_e2):
        seq = sorted(by_e2[ent], key=lambda t: t[0])
        arr = np.array([e for _, e in seq], dtype=np.float32)
        for start in range(0, len(seq) - 8 + 1, 4):
            pooled_all.append(arr[start : start + 8].mean(axis=0).astype(np.float32))
            meta.append((ent, start, str(seq[start + 8 - 1][0])))
    psqs = _seq_fold_sq_batch(np.array(pooled_all, np.float32)) if pooled_all else []
    payload["stack_pool"] = [(*m, sq) for m, sq in zip(meta, psqs)]

    # phash-keyed salted as-of (north rule verbatim): replay the strict as-of
    # with the payload-hash duplicate-(key, ts) tiebreak — salting never
    # changes answers (hypothesis-gated), so the unsalted replay is the truth
    micros = [int(pd.Timestamp(r[2]).value // 1000) for r in rows]
    hashes = _asof_tiebreak_hash_batch(embs, micros)
    feats_ph: dict[int, list] = {}
    for r, hsh, sq in zip(rows, hashes, sqs):
        feats_ph.setdefault(r[8], []).append((r[2], hsh, sq))
    for v in feats_ph.values():
        v.sort(key=lambda t: (t[0], t[1]))
    pa = []
    for r in rows:
        lts = r[2] + pd.Timedelta(minutes=5)
        fl = feats_ph[r[8]]
        i = bisect.bisect_left([t[0] for t in fl], lts)
        if i:
            # (ts, hash) sort ⇒ fl[i-1] is max ts < lts, then max hash: the
            # same winner the as-of join picks
            ts_asof, _, sq = fl[i - 1]
            pa.append((r[0], r[8], str(lts), str(ts_asof), sq))
        else:
            pa.append((r[0], r[8], str(lts), None, None))
    payload["phash_asof"] = pa
    return payload


def _payload_section_pairs() -> dict:
    """pair_flow + pair_flow_field: per-entity lead pairing through the pair
    encoder and the dense coarse-flow kernel (same decoded frames)."""
    import numpy as np

    from video_features_spark.functions.codec import decode_image
    from video_features_spark.functions.embed import preprocess_and_embed_pairs
    from video_features_spark.functions.flow import pair_flow_field

    np_ = min(_oracle_n_images(), 500)
    np_ent = max(np_ // 50, 1)
    prow = _regen_image_rows(np_, np_ent)
    by_entity: dict[str, list] = {}
    for r in prow:
        by_entity.setdefault(r[1], []).append(r)
    pairs, fa, fb = [], [], []
    for ent in sorted(by_entity):
        seq = sorted(by_entity[ent], key=lambda r: r[2])
        for a, b in zip(seq, seq[1:]):
            pairs.append((ent, str(a[2]), str(b[2])))
            fa.append(decode_image(bytes(a[3]), a[6]))
            fb.append(decode_image(bytes(b[3]), b[6]))
    vecs = preprocess_and_embed_pairs(fa, fb)
    vsqs = _seq_fold_sq_batch(vecs) if len(vecs) else []
    flows = np.array(
        [pair_flow_field(x, y, 8).ravel() for x, y in zip(fa, fb)], dtype=np.float32
    )
    fsqs = _seq_fold_sq_batch(flows) if len(flows) else []
    return {
        "pair_flow": [(*p, sq) for p, sq in zip(pairs, vsqs)],
        "pair_flow_field": [(*p, sq) for p, sq in zip(pairs, fsqs)],
    }


def _payload_section_audio() -> dict:
    """audio_logmel: regenerate clips, demux → mixdown → log-mel → embed."""
    from video_features_spark.functions.wav import demux_audio, logmel_examples, mono_mixdown
    from video_features_spark.operators.audio import embed_examples
    from video_features_spark.sources.datagen import SEED, _audio_row

    import numpy as np

    na = max(_oracle_n_images() // 5, 20)
    na_ent = max(na // 20, 1)
    meta, ex_all = [], []
    for rid in range(na):
        clip_id, ent, _ts, blob, _sr, _ch, _ns = _audio_row(SEED, rid, na_ent)
        pcm, sr2 = demux_audio(bytes(blob))
        ex = logmel_examples(mono_mixdown(pcm), sr2)
        meta.extend((clip_id, ent, j) for j in range(len(ex)))
        if len(ex):
            ex_all.append(ex)
    # ONE embed over all clips' examples — the fixed-tile matmul pads every
    # call to whole 1024-row GEMM tiles, so per-clip calls pay the whole tile
    vecs = embed_examples(np.concatenate(ex_all)) if ex_all else []
    sqs = _seq_fold_sq_batch(vecs) if len(vecs) else []
    return {"audio": [(*m, sq) for m, sq in zip(meta, sqs)]}


def _payload_section_small() -> dict:
    """Sections over the capped (≤500) image set: augmented_fp16 and the
    zero-shot image embeddings. The zero-shot CLASS-caption embeddings are
    computed PARENT-side at oracle-build time (the Spark query embeds them
    driver-side in the same harness process — same-process BLAS parity, like
    the IVF fit)."""
    nf = min(_oracle_n_images(), 500)
    nf_ent = max(nf // 50, 1)
    frows = _regen_image_rows(nf, nf_ent)
    fembs = _regen_embeddings(nf, nf_ent, precision="fp16", augment_seed=11)
    zembs = _regen_embeddings(nf, nf_ent)
    fsqs = _seq_fold_sq_batch(fembs)
    return {
        "augmented_fp16": [(r[0], sq) for r, sq in zip(frows, fsqs)],
        "zero_shot_embs": [(r[0], e.tolist()) for r, e in zip(frows, zembs)],
    }


def _payload_section_ckpt() -> dict:
    """image_checkpoint_weights: regenerate the checkpoint file (pure function
    of ``_CKPT_SEED``), resolve it through the LOCAL-path seam (no
    SparkContext in this child), and embed the regenerated images THROUGH the
    same SHA256-verified npz loader the executors run. BLAS-1 only."""
    import hashlib

    import numpy as np

    from video_features_spark.functions import embed as embed_mod
    from video_features_spark.functions.codec import decode_image

    nf = min(_oracle_n_images(), 500)
    nf_ent = max(nf // 50, 1)
    rows = _regen_image_rows(nf, nf_ent)
    with tempfile.TemporaryDirectory(prefix="vfs_ckpt_oracle_") as td:
        path = os.path.join(td, _CKPT_FILE)
        embed_mod.synth_checkpoint_npz("clip-small-det", path, _CKPT_SEED)
        with open(path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        embed_mod.use_local_checkpoint_file(_CKPT_FILE, path)
        imgs = [decode_image(bytes(r[3]), r[6]) for r in rows]
        embs = np.asarray(
            embed_mod.preprocess_and_embed(
                imgs, "clip-small-det", (_CKPT_FILE, digest), "fp32"
            ),
            dtype=np.float32,
        )
    sqs = _seq_fold_sq_batch(embs)
    return {"ckpt_weights": [(r[0], sq) for r, sq in zip(rows, sqs)]}


def _payload_section_video() -> dict:
    """video_frames: regenerate the MJPEG-AVI clips (pure function of
    (seed, rid)), demux with the container codec, decode each frame with the
    same T.81 kernel the query runs (integer pipeline — no BLAS sensitivity),
    and keep (video_id, frame_idx, frame_ts, h, w, pixel sum)."""
    import pandas as pd

    from video_features_spark.functions.avi import demux_mjpeg_avi
    from video_features_spark.functions.codec import decode_image
    from video_features_spark.sources.datagen import SEED, _video_row

    nv = max(_oracle_n_images() // 20, 10)
    nv_ent = max(nv // 5, 1)
    rows = []
    for rid in range(nv):
        vid, _ent, ts, blob, fps, _nf, _w, _h = _video_row(SEED, rid, nv_ent)
        got_fps, frames = demux_mjpeg_avi(bytes(blob))
        for j, payload in enumerate(frames):
            img = decode_image(payload, "jpg")
            fts = ts + pd.Timedelta(seconds=j / got_fps)
            rows.append(
                (vid, j, str(fts), img.shape[0], img.shape[1], int(img.astype("int64").sum()))
            )
    return {"video_frames": rows}


def _payload_section_whiten() -> dict:
    """embedding_quantize's whitened half: read the embeddings table, apply
    the SAME ``pca_whiten_batch`` kernel the executors run (fixed-tile
    float32 GEMM — BLAS-1 in this child, matching the OMP_NUM_THREADS=1
    Python workers), quantize in float64 exactly as Catalyst's
    ``floor((clip(x)+2)*(255/4))`` promotes the float elements."""
    import numpy as np
    import pyarrow.parquet as pq

    from video_features_spark.functions.embed import pca_whiten_batch, synth_pca_params

    t = pq.read_table(
        os.path.join(_oracle_sf_dir(), "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    )
    vec_ids = t["vec_id"].to_pylist()
    emb = np.stack([np.asarray(e, np.float32) for e in t["embedding"].to_pylist()])
    matrix, means = synth_pca_params(emb.shape[1])
    white = pca_whiten_batch(emb, matrix, means)
    q = np.floor(
        (np.clip(white.astype(np.float64), -2.0, 2.0) + 2.0) * (255.0 / 4.0)
    ).astype(np.int64)
    return {"whiten_qsum": list(zip(vec_ids, q.sum(axis=1).tolist()))}


_PAYLOAD_SECTIONS = (
    "_payload_section_main",
    "_payload_section_pairs",
    "_payload_section_audio",
    "_payload_section_small",
    "_payload_section_video",
    "_payload_section_ckpt",
    "_payload_section_whiten",
)


def _regen_oracle_payload() -> dict:
    """Everything the embedding-bearing oracles need, computed with the SAME
    kernels the executors run — serial fallback used when the process is
    already BLAS-pinned (VFS_BLAS1=1); ``_oracle_payload`` otherwise runs the
    sections in PARALLEL pinned children."""
    payload: dict = {}
    for name in _PAYLOAD_SECTIONS:
        payload.update(globals()[name]())
    return payload



def _oracle_payload() -> dict:
    """Runs ``_regen_oracle_payload`` under single-threaded BLAS. OpenBLAS
    GEMM rounding depends on its thread count, and PySpark pins Python
    workers to OMP_NUM_THREADS=1 (spark.task.cpus) — so bit-exact replication
    of UDF outputs requires a BLAS-1 process. Thread pools can't be resized
    after numpy loads (no threadpoolctl in this container), so compute in a
    pinned child process and cache the pickle."""
    import pickle
    import subprocess
    import sys

    if getattr(_oracle_payload, "_memo", None) is not None:
        return _oracle_payload._memo
    if os.environ.get("VFS_BLAS1") == "1":
        _oracle_payload._memo = _regen_oracle_payload()
        return _oracle_payload._memo
    repo = os.path.dirname(os.path.abspath(__file__))
    code = (
        "import sys, pickle; sys.path.insert(0, sys.argv[1]); "
        "import __spark_entry__ as e; "
        "pickle.dump(getattr(e, sys.argv[3])(), open(sys.argv[2], 'wb'))"
    )
    env = {
        **os.environ,
        "VFS_BLAS1": "1",
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    }
    # sections are independent — run them as CONCURRENT pinned children
    # (parallelism across processes; BLAS stays single-threaded inside each),
    # so wall time is the longest section, not the sum
    procs = []
    for section in _PAYLOAD_SECTIONS:
        with tempfile.NamedTemporaryFile(suffix=".pkl", delete=False) as tf:
            out_path = tf.name
        p = subprocess.Popen(
            [sys.executable, "-c", code, repo, out_path, section],
            env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        procs.append((section, p, out_path))
    payload: dict = {}
    try:
        for section, p, out_path in procs:
            try:
                _, stderr = p.communicate(timeout=600)
            except subprocess.TimeoutExpired:
                p.kill()
                raise RuntimeError(f"oracle payload section {section} timed out")
            if p.returncode != 0:
                raise RuntimeError(
                    f"oracle payload section {section} failed: {stderr[-1500:]}"
                )
            with open(out_path, "rb") as f:
                payload.update(pickle.load(f))
            os.unlink(out_path)
    except BaseException:
        # one child failing must not leave siblings running (they'd pollute
        # later timings) or their unprocessed temp files behind
        for _, p, out_path in procs:
            if p.poll() is None:
                p.kill()
                p.wait()
            if os.path.exists(out_path):
                os.unlink(out_path)
        raise
    _oracle_payload._memo = payload
    return payload


def _image_flagship_oracle() -> str:
    """DuckDB twin of the FLAGSHIP query: regenerate images + labels (both
    pure functions of (seed, rid)), embed with the operator's own kernels
    under BLAS-1 (see ``_oracle_payload``), replay the strict as-of in Python
    (per-entity feature ts are unique and sorted), and bake
    (entity_id, label_ts, label, ts_asof, emb_sq_norm) as a VALUES table.
    emb_sq_norm uses the verified float32-product/float64-fold replica of the
    query's aggregate expression."""
    values = ", ".join(
        "('%s', TIMESTAMP '%s', %s, %s, %s)"
        % (e, lts, _dlit(label),
           "NULL" if tsa is None else f"TIMESTAMP '{tsa}'",
           _dlit(sq))
        for e, lts, label, tsa, sq in _oracle_payload()["flagship"]
    )
    return f"""
        SELECT entity_id, label_ts, label::DOUBLE AS label,
               ts_asof::TIMESTAMP AS ts_asof, emb_sq_norm::DOUBLE AS emb_sq_norm
        FROM (VALUES {values}) AS t(entity_id, label_ts, label, ts_asof, emb_sq_norm)
    """


def _asof_image_match_oracle() -> str:
    """DuckDB twin of the ``asof_merge`` slot (the metadata-only flagship
    match): images and labels regenerated in pure Python (both pure functions
    of (seed, rid)) as VALUES tables, joined by DuckDB's own strict
    ``ASOF LEFT JOIN``. Per-entity image timestamps are unique
    (``seq*600 + rand(0, 300)``), so the answer has no ties."""
    from video_features_spark.sources.datagen import SEED, _label_row

    n = _oracle_n_images()
    n_ent = max(n // 50, 1)
    imgs = ", ".join(
        f"({_sql_str(r[1])}, TIMESTAMP '{r[2]}', {_sql_str(r[0])})"
        for r in _regen_image_rows(n, n_ent)
    )
    labels = ", ".join(
        f"({_sql_str(ent)}, TIMESTAMP '{lts}', {_dlit(label)})"
        for ent, lts, label in (_label_row(SEED, rid, n_ent, 50) for rid in range(n // 2))
    )
    return f"""
        WITH imgs(entity_id, ts, image_id) AS (VALUES {imgs}),
        labels(entity_id, label_ts, label) AS (VALUES {labels})
        SELECT l.entity_id, l.label_ts, l.label::DOUBLE AS label,
               i.image_id, i.ts AS ts_asof
        FROM labels l ASOF LEFT JOIN imgs i
          ON l.entity_id = i.entity_id AND l.label_ts > i.ts
    """


def _image_caption_sim_oracle() -> str:
    """DuckDB twin of image_caption_sim: image + caption towers re-run with
    the operators' own kernels (BLAS-1 child); logit = float32(100 · fold
    dot) exactly as the JVM expression computes it."""
    values = ", ".join(
        f"('{iid}', {_dlit(sim)})" for iid, sim in _oracle_payload()["caption_sim"]
    )
    return f"""
        SELECT image_id, img_txt_sim::FLOAT AS img_txt_sim
        FROM (VALUES {values}) AS t(image_id, img_txt_sim)
    """


def _image_pair_flow_oracle() -> str:
    """DuckDB twin of image_pair_flow: replay the per-entity lead pairing and
    run the pair encoder's own kernel (BLAS-1 child), baking
    (entity_id, ts, next_ts, emb_sq_norm, error)."""
    values = ", ".join(
        f"('{ent}', TIMESTAMP '{ts}', TIMESTAMP '{nts}', {_dlit(sq)})"
        for ent, ts, nts, sq in _oracle_payload()["pair_flow"]
    )
    return f"""
        SELECT entity_id, ts, next_ts,
               emb_sq_norm::DOUBLE AS emb_sq_norm, NULL::VARCHAR AS error
        FROM (VALUES {values}) AS t(entity_id, ts, next_ts, emb_sq_norm)
    """


def _image_pair_flow_field_oracle() -> str:
    """DuckDB twin of image_pair_flow_field: same pairing, same deterministic
    flow kernel on the regenerated frames (pure element-wise numpy — no GEMM,
    so no BLAS sensitivity), sq-norm via the pinned float32-fold replica."""
    values = ", ".join(
        f"('{ent}', TIMESTAMP '{ts}', TIMESTAMP '{nts}', {_dlit(sq)})"
        for ent, ts, nts, sq in _oracle_payload()["pair_flow_field"]
    )
    return f"""
        SELECT entity_id, ts, next_ts, 128::INT AS flow_dim,
               flow_sq_norm::DOUBLE AS flow_sq_norm, NULL::VARCHAR AS error
        FROM (VALUES {values}) AS t(entity_id, ts, next_ts, flow_sq_norm)
    """


def _video_frames_oracle() -> str:
    """DuckDB twin of video_frames: clips regenerated + demuxed + decoded with
    the operators' own container/JPEG kernels (see _payload_section_video)."""
    values = ", ".join(
        f"('{vid}', {j}, TIMESTAMP '{fts}', {h}, {w}, {ps})"
        for vid, j, fts, h, w, ps in _oracle_payload()["video_frames"]
    )
    return f"""
        SELECT video_id, frame_idx::INT AS frame_idx, frame_ts,
               frame_h::INT AS frame_h, frame_w::INT AS frame_w,
               pix_sum::BIGINT AS pix_sum
        FROM (VALUES {values}) AS t(video_id, frame_idx, frame_ts, frame_h, frame_w, pix_sum)
    """


def _image_stack_pool_oracle() -> str:
    """DuckDB twin of image_stack_pool: same per-entity ts-sorted stacking and
    float32 mean the grouped-map operator computes (identical numpy call,
    BLAS-1 child), then the sq-norm fold over the pooled vector."""
    values = ", ".join(
        f"('{ent}', {start}, TIMESTAMP '{ts}', {_dlit(sq)})"
        for ent, start, ts, sq in _oracle_payload()["stack_pool"]
    )
    return f"""
        SELECT entity_id, stack_start_idx::INT AS stack_start_idx,
               stack_ts, stack_sq_norm::DOUBLE AS stack_sq_norm
        FROM (VALUES {values}) AS t(entity_id, stack_start_idx, stack_ts, stack_sq_norm)
    """


def _audio_logmel_oracle() -> str:
    """DuckDB twin of audio_logmel: regenerate the clips (pure function of
    (seed, rid)), run the operator's own demux→mixdown→log-mel→embed kernels
    (BLAS-1 child), and bake one row per example."""
    values = ", ".join(
        f"('{cid}', '{ent}', {j}, {_dlit(sq)})"
        for cid, ent, j, sq in _oracle_payload()["audio"]
    )
    return f"""
        SELECT clip_id, entity_id, example_idx::INT AS example_idx,
               emb_sq_norm::DOUBLE AS emb_sq_norm
        FROM (VALUES {values}) AS t(clip_id, entity_id, example_idx, emb_sq_norm)
    """


def _image_phash_asof_oracle() -> str:
    """DuckDB twin of image_phash_asof (the north-rule query verbatim): the
    strict phash-keyed as-of with the payload-hash tiebreak, replayed in the
    BLAS-1 child using ``_asof_tiebreak_hash`` — a bit-exact replica of
    ``asof._build_tiebreak``'s ``xxhash64(struct(embedding, ts))`` (chained
    XXH64 lanes over float bits + epoch micros, verified against Spark)."""
    values = ", ".join(
        "('%s', %d, TIMESTAMP '%s', %s, %s)"
        % (iid, ph, lts,
           "NULL" if tsa is None else f"TIMESTAMP '{tsa}'",
           _dlit(sq))
        for iid, ph, lts, tsa, sq in _oracle_payload()["phash_asof"]
    )
    return f"""
        SELECT image_id, phash::BIGINT AS phash, label_ts,
               ts_asof::TIMESTAMP AS ts_asof, emb_sq_norm::DOUBLE AS emb_sq_norm
        FROM (VALUES {values}) AS t(image_id, phash, label_ts, ts_asof, emb_sq_norm)
    """


_ZS_CAPTIONS = ("a photo of a cat", "a landscape", "a vehicle", "food")


def _image_zero_shot_oracle() -> str:
    """DuckDB twin of image_zero_shot: image embeddings from the BLAS-1
    child; class-caption embeddings computed HERE (the Spark query embeds
    them driver-side in this same process — same-process parity); logits are
    the exact double fold the JVM computes. Ranks sort (logit desc,
    class_id)."""
    from video_features_spark.functions.embed import embed_captions

    cls = embed_captions(list(_ZS_CAPTIONS), "clip-small-det")
    out = []
    for iid, emb in _oracle_payload()["zero_shot_embs"]:
        logits = sorted(
            ((100.0 * _seq_fold_dot(emb, c), ci) for ci, c in enumerate(cls)),
            key=lambda t: (-t[0], t[1]),
        )
        for rank, (lg, ci) in enumerate(logits[:3], 1):
            out.append((iid, ci, rank, lg))
    values = ", ".join(
        f"('{iid}', {ci}, {rank}, {_dlit(lg)})" for iid, ci, rank, lg in out
    )
    return f"""
        SELECT image_id, class_id::INT AS class_id, rank::INT AS rank,
               logit::DOUBLE AS logit
        FROM (VALUES {values}) AS t(image_id, class_id, rank, logit)
    """


def _image_augmented_fp16_oracle() -> str:
    """DuckDB twin of image_augmented_fp16: the P12+P20 composition re-run
    with the same augment keying and fp16-quantized weights (BLAS-1 child)."""
    values = ", ".join(
        f"('{iid}', {_dlit(sq)})" for iid, sq in _oracle_payload()["augmented_fp16"]
    )
    return f"""
        SELECT image_id, emb_sq_norm::DOUBLE AS emb_sq_norm
        FROM (VALUES {values}) AS t(image_id, emb_sq_norm)
    """


def _image_checkpoint_weights_oracle() -> str:
    """DuckDB twin of image_checkpoint_weights: same images embedded through
    the regenerated, SHA256-verified checkpoint file (BLAS-1 child; see
    ``_payload_section_ckpt``)."""
    values = ", ".join(
        f"('{iid}', {_dlit(sq)})" for iid, sq in _oracle_payload()["ckpt_weights"]
    )
    return f"""
        SELECT image_id, emb_sq_norm::DOUBLE AS emb_sq_norm
        FROM (VALUES {values}) AS t(image_id, emb_sq_norm)
    """


def _caption_bpe_oracle() -> str:
    """DuckDB twin of caption_bpe: tokenize the regenerated captions with the
    same BPE module through BOTH vocab paths — the trained default AND the
    registered reference-format fixture file (regenerated here byte-for-byte,
    resolved via the local-path seam: no SparkContext needed). The digests
    replay Spark's xxhash64 over the comma-joined id strings via the verified
    pure-Python XXH64."""
    import hashlib

    from video_features_spark.functions import bpe

    n = _oracle_n_images()
    rows = _regen_image_rows(n, max(n // 50, 1))
    ids = bpe.tokenize([r[7] for r in rows])
    vdir = tempfile.mkdtemp(prefix="vfs_bpe_vocab_oracle_")
    vpath = os.path.join(vdir, _BPE_VOCAB_FILE)
    bpe.write_fixture_vocab(vpath)
    with open(vpath, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    bpe.use_local_vocab_file(_BPE_VOCAB_FILE, vpath)
    ids_v = bpe.tokenize([r[7] for r in rows], vocab_pin=(_BPE_VOCAB_FILE, digest))
    values = ", ".join(
        "('%s', %d, %d, %d)"
        % (
            r[0],
            sum(1 for t in toks if t != 0),
            _xxhash64_bytes(",".join(str(t) for t in toks).encode("utf-8")),
            _xxhash64_bytes(",".join(str(t) for t in toks_v).encode("utf-8")),
        )
        for r, toks, toks_v in zip(rows, ids, ids_v)
    )
    return f"""
        SELECT image_id, n_tokens::INT AS n_tokens,
               token_digest::BIGINT AS token_digest,
               token_digest_vocab::BIGINT AS token_digest_vocab
        FROM (VALUES {values}) AS t(image_id, n_tokens, token_digest, token_digest_vocab)
    """


def _embedding_quantize_oracle() -> str:
    """DuckDB twin of embedding_quantize: the raw-quantize digest stays pure
    SQL (engine-neutral); the whiten∘quantize digest comes from the BLAS-1
    payload (the kernel parity argument of the image oracles) and joins in as
    a VALUES table."""
    values = ", ".join(
        f"({vid}, {qs})" for vid, qs in _oracle_payload()["whiten_qsum"]
    )
    return f"""
        SELECT e.vec_id,
               list_sum(list_transform(e.embedding,
                   x -> floor((least(greatest(x, -2.0), 2.0) + 2.0) * (255.0/4.0))::BIGINT))::BIGINT AS q_sum,
               w.q_sum_white::BIGINT AS q_sum_white,
               len(e.embedding)::BIGINT AS dim
        FROM embeddings e
        JOIN (VALUES {values}) AS w(vec_id, q_sum_white) ON e.vec_id = w.vec_id
    """


def _checkpoint_resume_oracle() -> str:
    """DuckDB twin of checkpoint_resume: partition membership is a pure
    function of o_orderkey through the verified ``_xxhash64_long`` replica
    (pmod 64 touches only the low bits, where signed and unsigned agree), so
    the skip/resume partition counts are computed here and baked as literals;
    the row/price totals are plain SQL over orders."""
    import pyarrow.parquet as pq

    num_parts = 64
    keys = pq.read_table(
        os.path.join(_oracle_sf_dir(), "orders.parquet"), columns=["o_orderkey"]
    )["o_orderkey"].to_pylist()
    parts = {_xxhash64_long(k) % num_parts for k in keys}
    skipped = sum(1 for p in parts if p < num_parts // 2)
    resumed = len(parts) - skipped
    return f"""
        SELECT {num_parts}::INT AS parts_total, {skipped}::INT AS parts_skipped,
               {resumed}::INT AS parts_resumed, 0::INT AS drift_rows,
               count(*) AS rows_total,
               (sum(o_totalprice::DECIMAL(18,2)))::DOUBLE AS sum_totalprice
        FROM orders
    """


_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _avalanche64(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    return h ^ (h >> 32)


def _signed64(h: int) -> int:
    return h - (1 << 64) if h >= (1 << 63) else h


def _xxhash64_bytes(data: bytes, seed: int = 42) -> int:
    """Full XXH64 over a byte string (published algorithm; Spark's
    ``xxhash64`` on a STRING column hashes its UTF-8 bytes with seed 42) —
    verified bit-exact against Spark across lengths 0..100 incl. multibyte."""
    import struct

    def rnd(acc: int, inp: int) -> int:
        return (_rotl64((acc + inp * _P2) & _M64, 31) * _P1) & _M64

    n, i = len(data), 0
    if n >= 32:
        v1, v2 = (seed + _P1 + _P2) & _M64, (seed + _P2) & _M64
        v3, v4 = seed & _M64, (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = rnd(v1, struct.unpack_from("<Q", data, i)[0])
            v2 = rnd(v2, struct.unpack_from("<Q", data, i + 8)[0])
            v3 = rnd(v3, struct.unpack_from("<Q", data, i + 16)[0])
            v4 = rnd(v4, struct.unpack_from("<Q", data, i + 24)[0])
            i += 32
        h = (_rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ rnd(0, v)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h = (_rotl64(h ^ rnd(0, struct.unpack_from("<Q", data, i)[0]), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h = (_rotl64(h ^ ((struct.unpack_from("<I", data, i)[0] * _P1) & _M64), 23) * _P2
             + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl64(h ^ ((data[i] * _P5) & _M64), 11) * _P1) & _M64
        i += 1
    return _signed64(_avalanche64(h))


def _xxhash64_int(i: int, seed: int) -> int:
    """XXH64 4-byte lane (Spark hashes IntegerType/FloatType bits this way):
    ``hash = seed + P5 + 4; hash ^= (i & 0xFFFFFFFF) * P1; rotl(23)*P2 + P3;
    avalanche``. Returns the UNSIGNED accumulator for chaining."""
    h = (seed + _P5 + 4) & _M64
    h ^= ((i & 0xFFFFFFFF) * _P1) & _M64
    return _avalanche64((_rotl64(h, 23) * _P2 + _P3) & _M64)


def _xxhash64_long_u(v: int, seed: int) -> int:
    """XXH64 8-byte lane with an arbitrary seed, unsigned result (the
    chaining form of ``_xxhash64_long``)."""
    h = (seed + _P5 + 8) & _M64
    h ^= (_rotl64(((v & _M64) * _P2) & _M64, 31) * _P1) & _M64
    return _avalanche64((_rotl64(h, 27) * _P1 + _P4) & _M64)


def _xxhash64_long(v: int, seed: int = 42) -> int:
    """Spark's ``xxhash64`` for a LongType input (XXH64 single-lane path,
    seed 42; published algorithm) — signed 64-bit result. Lets the IVF oracle
    reproduce the operator's hash-ordered centroid sample outside Spark."""
    return _signed64(_xxhash64_long_u(v, seed))


def _seq_fold_sq_batch(embs) -> "list[float]":
    """Row-batched ``_seq_fold_sq``: float32 products, then per-row SEQUENTIAL
    float64 accumulation vectorized ACROSS rows (iterate positions, add one
    column at a time) — identical per-row rounding, ~500x fewer Python ops."""
    return _seq_fold_dot_batch(embs, embs)


def _seq_fold_dot_batch(a, b) -> "list[float]":
    import numpy as np

    x = np.asarray(a, dtype=np.float32) * np.asarray(b, dtype=np.float32)
    prods = x.astype(np.float64)
    acc = np.zeros(len(prods), np.float64)
    for i in range(prods.shape[1]):
        acc += prods[:, i]
    return acc.tolist()


def _asof_tiebreak_hash_batch(embs, ts_micros) -> "list[int]":
    """Row-batched ``_asof_tiebreak_hash``: the XXH64 lane chain is sequential
    WITHIN a row but independent across rows — run it over uint64 numpy
    vectors (wrapping arithmetic), one position at a time. Bit-identical to
    the scalar version (gated by a test)."""
    import numpy as np

    p1, p2, p3, p4, p5 = (np.uint64(p) for p in (_P1, _P2, _P3, _P4, _P5))
    u64 = np.uint64

    def rotl(x, r):
        return (x << u64(r)) | (x >> u64(64 - r))

    def avalanche(a):
        a ^= a >> u64(33)
        a *= p2
        a ^= a >> u64(29)
        a *= p3
        a ^= a >> u64(32)
        return a

    with np.errstate(over="ignore"):
        x = np.asarray(embs, dtype=np.float32)
        x = np.where(x == 0.0, np.float32(0.0), x)  # -0.0 normalizes to 0.0
        bits = x.view(np.int32).astype(np.int64) & 0xFFFFFFFF
        h = np.full(len(x), 42, np.uint64)
        for i in range(bits.shape[1]):
            # int lane: h' = avalanche(rotl((seed+P5+4) ^ (i32*P1), 23)*P2+P3)
            a = h + p5 + u64(4)
            a = a ^ (bits[:, i].astype(np.uint64) * p1)
            h = avalanche(rotl(a, 23) * p2 + p3)
        # long lane for the timestamp micros
        v = np.asarray(ts_micros, dtype=np.uint64)
        a = h + p5 + u64(8)
        a = a ^ (rotl(v * p2, 31) * p1)
        return avalanche(rotl(a, 27) * p1 + p4).view(np.int64).tolist()


def _asof_tiebreak_hash(emb, ts_micros: int) -> int:
    """Replicates ``operators.asof._build_tiebreak``:
    ``F.xxhash64(struct(embedding array<float>, asof_ts timestamp))``. Spark
    folds nested values through chained XXH64 lanes starting at seed 42 —
    each float element hashes its IEEE bits as a 4-byte lane, the timestamp
    hashes its epoch-micros as an 8-byte lane. Signed result."""
    import numpy as np

    h = 42
    for f in np.asarray(emb, dtype=np.float32):
        bits = int(np.float32(0.0 if f == 0.0 else f).view(np.int32))
        h = _xxhash64_int(bits, h)
    return _signed64(_xxhash64_long_u(ts_micros, h))


def _ann_ivf_oracle(
    k: int = 5, n_centroids: int = 16, nprobe: int = 4,
    sample_size: int = 4096, iters: int = 10,
) -> str:
    """DuckDB twin of the ``ann_ivf_topk`` driver query. The IVF fit is fully
    deterministic (sample = rows with smallest (xxhash64(vec_id), vec_id),
    seeded farthest-point k-means in float32), so this re-runs the identical
    numpy fit over the identical sample — drawn here via the pure-Python
    xxhash64 above — and bakes the resulting centroids into the SQL as
    literals, exactly as ``_ann_lsh_oracle`` bakes plane literals. Cell
    assignment ranks raw float64 centroid dots on both engines (the Spark
    side's ``ivf_assign`` computes the same quantity), so near-tie cells
    cannot drift. The data path defaults to the driver's comparison scale
    (sf0.01); ``VFS_ORACLE_SF_DIR`` overrides it for local mirrors."""
    import duckdb
    import numpy as np

    from video_features_spark.operators.similarity import kmeans_fit_sample

    sf_dir = os.environ.get("VFS_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchall()
    con.close()
    rows.sort(key=lambda r: (_xxhash64_long(r[0]), r[0]))
    x = np.array([r[1] for r in rows[:sample_size]], dtype=np.float32)
    cents = kmeans_fit_sample(x, n_centroids, iters)
    cent_values = ", ".join(
        "(%d, [%s]::DOUBLE[])" % (c, ", ".join(repr(float(v)) for v in row))
        for c, row in enumerate(cents)
    )
    return f"""
        WITH cents(cell, cvec) AS (VALUES {cent_values}),
        base AS (
          SELECT vec_id, embedding,
                 sqrt(list_sum(list_transform(embedding, x -> x*x))) AS nrm
          FROM embeddings),
        dots AS (
          SELECT b.vec_id, c.cell,
                 list_sum(list_transform(list_zip(b.embedding, c.cvec),
                                         p -> p[1]*p[2])) AS d
          FROM base b CROSS JOIN cents c),
        ranked AS (
          SELECT vec_id, cell,
                 row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS r
          FROM dots),
        corp AS (
          SELECT b.vec_id, b.embedding, b.nrm, r.cell
          FROM base b JOIN ranked r ON r.vec_id = b.vec_id AND r.r = 1),
        q AS (
          SELECT b.vec_id AS query_id, b.embedding AS q_emb, b.nrm AS q_nrm, r.cell
          FROM base b JOIN ranked r ON r.vec_id = b.vec_id AND r.r <= {nprobe}
          WHERE b.vec_id < 5),
        sims AS (
          SELECT q.query_id, c.vec_id,
                 list_sum(list_transform(list_zip(c.embedding, q.q_emb),
                                         p -> p[1]*p[2])) / (c.nrm * q.q_nrm) AS cos
          FROM corp c JOIN q ON c.cell = q.cell AND c.vec_id <> q.query_id)
        SELECT query_id, vec_id, rank FROM (
          SELECT query_id, vec_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, vec_id ASC) AS rank
          FROM sims)
        WHERE rank <= {k}
    """


def _near_dup_blocked_oracle(threshold: float = 0.4, dim: int = 64,
                             n_planes: int = 4, n_tables: int = 4) -> str:
    """DuckDB twin of embedding_near_dup_blocked (same plane literals)."""
    buckets = _lsh_bucket_sql("embedding", dim, n_planes, n_tables)
    cb_cols = ", ".join(f"{b} AS b{t}" for t, b in enumerate(buckets))
    collide = " OR ".join(f"a.b{t} = b.b{t}" for t in range(n_tables))
    return f"""
        WITH base AS (
          SELECT vec_id, embedding,
                 sqrt(list_sum(list_transform(embedding, x -> x*x))) AS nrm
          FROM embeddings),
        cb AS (SELECT vec_id, embedding, nrm, {cb_cols} FROM base),
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
                 a.embedding AS e_a, a.nrm AS n_a, b.embedding AS e_b, b.nrm AS n_b
          FROM cb a JOIN cb b ON a.vec_id < b.vec_id AND ({collide}))
        SELECT id_a, id_b, cos FROM (
          SELECT id_a, id_b,
                 list_sum(list_transform(list_zip(e_a, e_b),
                                         p -> p[1]*p[2])) / (n_a * n_b) AS cos
          FROM cand)
        WHERE cos >= {threshold}
    """


def _langid_ngram_oracle() -> str:
    """DuckDB twin of operators.text.langid_ngram, generated from the same
    TRIGRAM_PROFILES constants so the two can never drift."""
    from video_features_spark.operators.text import TRIGRAM_PROFILES

    langs = sorted(TRIGRAM_PROFILES)
    score_cols = ",\n               ".join(
        "len(list_intersect(grams, ["
        + ", ".join(f"'{g}'" for g in TRIGRAM_PROFILES[lang])
        + f"]))::DOUBLE / greatest(len(grams), 1) AS ngram_{lang}"
        for lang in langs
    )
    # earliest language wins ties — same order as the Spark when-chain
    cases = []
    for i, lang in enumerate(langs):
        others = [f"ngram_{lang} >= ngram_{o}" for o in langs[i + 1 :]]
        cases.append(
            ("WHEN " + " AND ".join(others) + f" THEN '{lang}'") if others else f"ELSE '{lang}'"
        )
    case_sql = "CASE " + " ".join(cases) + " END AS lang_pred"
    return f"""
        WITH g AS (
          SELECT doc_id,
                 CASE WHEN length(lower(text)) < 3 THEN []::VARCHAR[]
                      ELSE list_distinct(list_transform(range(1, length(lower(text)) - 1),
                                         i -> substring(lower(text), i, 3))) END AS grams
          FROM documents
        )
        SELECT doc_id,
               {score_cols},
               {case_sql}
        FROM g
    """


def _curate_oracle() -> str:
    """DuckDB twin of operators.text.curate_corpus with the _q_curate_corpus
    parameters (min_quality=0.3, lang='en', jaccard 0.5): quality CTE +
    langid CTE + jaccard over kept docs + recursive-CTE components. ``lang``
    and ``kept`` are MATERIALIZED: DuckDB otherwise inlines a CTE at every
    reference, and the MinHash-LSH oracle references ``kept`` many times
    (measured at sf0.001 on 4 cores: 218.5 s inlined, 7.3 s materialized,
    same rows)."""
    lang_sql = _langid_ngram_oracle()
    return f"""
        WITH RECURSIVE quality AS (
          SELECT doc_id,
                 least(len(string_split_regex(trim(text), '\\s+'))::DOUBLE / 20.0, 1.0)
                   * (1.0 - least(length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::DOUBLE
                                  / greatest(length(text), 1) * 4, 1.0))
                   * (1.0 - least(length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE
                                  / greatest(length(text), 1) * 4, 1.0)) AS quality,
                 len(string_split_regex(trim(text), '\\s+')) AS n_words
          FROM documents),
        lang AS MATERIALIZED ({lang_sql}),
        kept AS MATERIALIZED (
          SELECT d.doc_id, d.text, q.quality, q.n_words, l.lang_pred
          FROM documents d
          JOIN quality q USING (doc_id) JOIN lang l USING (doc_id)
          WHERE q.quality >= 0.3 AND l.lang_pred = 'en'),
        pairs AS (
          SELECT id_a, id_b
          FROM ({_minhash_lsh_oracle(n_hashes=64, bands=16, threshold=0.5, source="kept")}) mlp),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        comp AS (
          SELECT src AS id, least(src, min(dst)) AS component FROM reach GROUP BY src)
        SELECT k.doc_id, k.lang_pred, k.quality, k.n_words
        FROM kept k LEFT JOIN comp c ON k.doc_id = c.id
        WHERE c.id IS NULL OR c.id = c.component
    """


def oracle_sql() -> dict[str, str]:
    qualify_stacks = """
        WITH idx AS (
          SELECT user_id, ts, value, event_id,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS i,
                 count(*) OVER (PARTITION BY user_id) AS n
          FROM events)
        SELECT user_id, i AS stack_start_idx,
               (sum(value::DECIMAL(18,6)) OVER w)::DOUBLE / count(*) OVER w AS stack_agg,
               last_value(ts) OVER w AS stack_end_ts
        FROM idx
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)
        QUALIFY i % 4 = 0 AND i + 8 <= n
    """
    return {
        "asof_window": _ASOF_ORACLE,
        "asof_merge": _asof_image_match_oracle(),
        "asof_salted": _ASOF_ORACLE,
        "stream_asof": _ASOF_ORACLE,
        "lag_lead": """
            SELECT event_id, user_id, ts, value,
                   lag(value) OVER w AS value_lag1,
                   lead(value) OVER w AS value_lead1
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "backfill": """
            SELECT event_id, user_id, ts,
                   CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS value,
                   last_value(CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
            FROM events
        """,
        "sessionize": """
            SELECT event_id, user_id, ts,
                   (sum(CASE WHEN prev_ts IS NULL
                             OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
            FROM (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
                  FROM events)
        """,
        "resample": """
            SELECT user_id, ts, event_id FROM (
              SELECT user_id, ts, event_id,
                     row_number() OVER (PARTITION BY user_id, floor(epoch(ts)/86400.0)
                                        ORDER BY ts, event_id) AS rn
              FROM events)
            WHERE rn = 1
        """,
        "topk_per_group": """
            SELECT o_custkey, o_totalprice, rank FROM (
              SELECT o_custkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_custkey) AS rank
              FROM orders)
            WHERE rank <= 5
        """,
        "sliding_stacks": qualify_stacks,
        "tumbling_daily": """
            SELECT user_id, date_trunc('day', ts) AS win_start,
                   count(*) AS n_events,
                   (sum(value::DECIMAL(18,6)))::DOUBLE AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "stream_tumbling": """
            SELECT user_id, date_trunc('day', ts) AS win_start,
                   count(*) AS n_events,
                   (sum(value::DECIMAL(18,6)))::DOUBLE AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "rolling_7d": """
            SELECT event_id, user_id, ts,
                   count(*) OVER w AS n_7d,
                   sum(value::DECIMAL(18,6)) OVER w AS sum_7d
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts
                         RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
        """,
        "percentiles": """
            SELECT l_returnflag,
                   quantile_cont(l_quantity, 0.5) AS p50_qty,
                   quantile_cont(l_quantity, 0.95) AS p95_qty,
                   count(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag
        """,
        "stats_lineitem": """
            SELECT min(l_quantity) AS min_qty,
                   (sum(l_quantity::DECIMAL(18,6)))::DOUBLE / count(*) AS avg_qty,
                   max(l_quantity) AS max_qty, count(*) AS n_rows
            FROM lineitem
        """,
        "distinct_guard": """
            SELECT l_returnflag,
                   count(DISTINCT l_orderkey) AS n_distinct_orders,
                   count(*) AS n_rows,
                   count(*) = count(DISTINCT l_orderkey || '-' || l_linenumber) AS pk_unique,
                   TRUE AS sketch_within_5pct
            FROM lineitem GROUP BY l_returnflag
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   (sum(l_quantity::DECIMAL(18,6)))::DOUBLE AS sum_qty,
                   (sum(l_extendedprice::DECIMAL(18,6)))::DOUBLE AS sum_base_price,
                   (sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6)))::DOUBLE AS sum_disc_price,
                   (sum(l_quantity::DECIMAL(18,6)))::DOUBLE / count(*) AS avg_qty,
                   (sum(l_discount::DECIMAL(18,6)))::DOUBLE / count(*) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   (sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6)))::DOUBLE AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < DATE '1998-01-01'
              AND l_shipdate > DATE '1998-01-01'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, o_orderdate, l_orderkey
            LIMIT 10
        """,
        "grouping_sets_sales": """
            SELECT o_orderpriority, o_orderstatus,
                   (sum(o_totalprice::DECIMAL(18,2)))::DOUBLE AS sum_price,
                   count(*) AS n_orders,
                   grouping(o_orderpriority, o_orderstatus) AS gid
            FROM orders
            GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                    (o_orderpriority), (o_orderstatus), ())
        """,
        "dedup_exact": """
            SELECT user_id, event_type, min(event_id) AS keep_event_id,
                   count(*) AS n_dups
            FROM events GROUP BY 1, 2
        """,
        "token_count": r"""
            SELECT doc_id,
                   len(string_split_regex(trim(text), '\s+')) AS n_tokens,
                   length(text) AS n_chars_observed
            FROM documents
        """,
        "text_quality": r"""
            SELECT doc_id,
                   len(string_split_regex(trim(text), '\s+')) AS n_words,
                   length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE
                     / len(string_split_regex(trim(text), '\s+')) AS avg_word_len,
                   len(list_filter(string_split_regex(trim(text), '\s+'),
                                   w -> w IN ('the','a','of','in','and')))::DOUBLE
                     / len(string_split_regex(trim(text), '\s+')) AS stopword_ratio
            FROM documents
        """,
        "bucketed_join": """
            SELECT e.user_id, count(*) AS n_events,
                   (sum(e.value::DECIMAL(18,6)))::DOUBLE AS sum_value,
                   max(f.feat_price) AS feat_price
            FROM events e
            JOIN (SELECT o_custkey AS user_id, max(o_totalprice) AS feat_price
                  FROM orders GROUP BY 1) f USING (user_id)
            GROUP BY e.user_id
        """,
        "langid_ngram": _langid_ngram_oracle(),
        "curate_corpus": _curate_oracle(),
        "doc_fingerprints": """
            WITH h AS (
              SELECT doc_id,
                     list_transform(range(1, greatest(length(text)-5+1, 1)+1),
                                    i -> ('0x'||substr(md5(substr(text, i::INT, 5)),1,8))::BIGINT)
                       AS hl
              FROM documents),
            wins AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, greatest(len(hl)-4+1, 1)+1),
                       i -> list_aggregate(list_slice(hl, i::INT, i::INT+3), 'min'))) AS fps
              FROM h)
            SELECT doc_id, unnest(fps) AS fingerprint FROM wins
        """,
        "embedding_quantize": _embedding_quantize_oracle(),
        "ngram_jaccard": _JACCARD_ORACLE,
        "dedup_groups": _dedup_groups_oracle(),
        "embedding_near_dup_blocked": _near_dup_blocked_oracle(),
        "minhash_lsh_dedup": _minhash_lsh_oracle(),
        "simhash_sigs": _simhash_oracle(),
        "ann_lsh_topk": _ann_lsh_oracle(),
        "ann_ivf_topk": _ann_ivf_oracle(),
        "image_phash_sessions": _image_phash_sessions_oracle(),
        "image_pair_motion": _image_pair_motion_oracle(),
        "image_flagship": _image_flagship_oracle(),
        "image_caption_sim": _image_caption_sim_oracle(),
        "image_pair_flow": _image_pair_flow_oracle(),
        "image_pair_flow_field": _image_pair_flow_field_oracle(),
        "video_frames": _video_frames_oracle(),
        "image_stack_pool": _image_stack_pool_oracle(),
        "audio_logmel": _audio_logmel_oracle(),
        "image_augmented_fp16": _image_augmented_fp16_oracle(),
        "image_checkpoint_weights": _image_checkpoint_weights_oracle(),
        "caption_bpe": _caption_bpe_oracle(),
        "image_phash_asof": _image_phash_asof_oracle(),
        "image_zero_shot": _image_zero_shot_oracle(),
        "checkpoint_resume": _checkpoint_resume_oracle(),
        "cosine_topk": """
            WITH base AS (
              SELECT vec_id, embedding,
                     sqrt(list_sum(list_transform(embedding, x -> x*x))) AS nrm
              FROM embeddings),
            q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
                  FROM base WHERE vec_id < 5),
            sims AS (
              SELECT q.query_id, b.vec_id,
                     list_sum(list_transform(list_zip(b.embedding, q.q_emb),
                                             p -> p[1]*p[2])) / (b.nrm * q.q_nrm) AS cos
              FROM base b, q WHERE b.vec_id <> q.query_id)
            SELECT query_id, vec_id, rank FROM (
              SELECT query_id, vec_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, vec_id ASC) AS rank
              FROM sims)
            WHERE rank <= 3
        """,
    }
