"""Dedup + similarity operator gates: exact-Jaccard vs DuckDB, MinHash-LSH
recall vs exact, SimHash hamming on injected near-dups, ANN recall vs
brute force."""

import hashlib
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.utils import assert_frames_match, py4j_commands
from video_features_spark.operators.dedup import (
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_dedup,
    minhash_signatures,
    near_dup_join,
    simhash_signatures,
)
from video_features_spark.operators.similarity import cosine_topk, lsh_ann_topk


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    """documents + 5 injected near-duplicates (id + 100000)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dups = docs.limit(5).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat("text", F.lit(" extra token")).alias("text"),
    )
    df = docs.unionByName(dups).cache()
    df.count()
    return df


def test_jaccard_pairs_vs_duckdb(spark, duck, sf_dir):
    res = jaccard_pairs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id", "text", n=5, threshold=0.5
    )
    oracle = duck.execute(
        """
        WITH sh AS (
          SELECT DISTINCT doc_id, ('0x'||substr(md5(s),1,8))::BIGINT AS h
          FROM (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(1, greatest(length(text)-4, 1)+1),
                  i -> substr(text, i::INT, 5)))) AS s FROM documents)),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
          FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)
        SELECT id_a, id_b, i::DOUBLE / (sa.sz + sb.sz - i) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.5
        """
    ).df()
    assert_frames_match(res.toPandas(), oracle)


def test_minhash_lsh_recall(corpus):
    """LSH-verified near-dup pairs must recover every exact-Jaccard pair at
    the threshold (32 hashes / 8 bands → band match prob ~1 at j≥0.7)."""
    exact = {(r["id_a"], r["id_b"]) for r in
             jaccard_pairs(corpus, "doc_id", "text", 5, threshold=0.7).collect()}
    assert len(exact) >= 5  # the injected dups are found at all
    got = {(r["id_a"], r["id_b"]) for r in
           minhash_dedup(corpus, "doc_id", "text", 32, 8, 5, threshold=0.7).collect()}
    assert exact <= got | exact and len(got & exact) / len(exact) >= 0.95
    # verification step keeps precision exact: no pair below threshold
    assert got <= {(r["id_a"], r["id_b"]) for r in
                   jaccard_pairs(corpus, "doc_id", "text", 5, threshold=0.7).collect()}


def test_minhash_signature_stable_across_partitionings(corpus):
    a = minhash_signatures(corpus.repartition(1), "doc_id", "text", 16, 5)
    b = minhash_signatures(corpus.repartition(16), "doc_id", "text", 16, 5)
    pa = {r["doc_id"]: r["minhash"] for r in a.collect()}
    pb = {r["doc_id"]: r["minhash"] for r in b.collect()}
    assert pa == pb


def test_lsh_candidates_contain_injected_dups(corpus):
    sigs = minhash_signatures(corpus, "doc_id", "text", 32, 5)
    cands = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sigs, "doc_id", 8).collect()}
    for i in range(5):
        pair = tuple(sorted([i, i + 100000]))
        assert pair in cands, f"injected dup {pair} missed by LSH"


def test_simhash_near_vs_far(corpus):
    sh = simhash_signatures(corpus, "doc_id", "text")
    joined = sh.alias("x").join(
        sh.alias("y"), F.col("x.doc_id") + 100000 == F.col("y.doc_id")
    ).select(F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))).alias("ham"))
    near = [r["ham"] for r in joined.collect()]
    assert len(near) == 5 and max(near) <= 8
    far = sh.alias("x").join(
        sh.alias("y"),
        (F.col("x.doc_id") + 1 == F.col("y.doc_id")) & (F.col("x.doc_id") % 97 == 3),
    ).select(F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))).alias("ham"))
    fars = [r["ham"] for r in far.collect()]
    assert fars and np.mean(fars) > 10  # unrelated docs differ in many bits


def test_ann_recall_vs_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter("vec_id < 10").select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r["query_id"], r["vec_id"]) for r in cosine_topk(emb, q, k=5).collect()}
    approx = {(r["query_id"], r["vec_id"]) for r in
              lsh_ann_topk(emb, q, k=5, dim=64, n_planes=2, n_tables=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"ANN recall {recall} collapsed"
    # every approx result is a genuine corpus/query pair with correct ranking ≤ 5
    assert all(qid != vid for qid, vid in approx)


def test_connected_components_chain_and_clique(spark):
    from video_features_spark.operators.dedup import connected_components, dedup_groups

    # chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    # clique {10,11,12}, isolated pair {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    kept = {r["id"] for r in dedup_groups(pairs).filter("is_kept").collect()}
    assert kept == {1, 10, 20}


def test_connected_components_auto_evaluates_chain_once(spark, monkeypatch):
    """The auto probe must not re-evaluate the (usually expensive) upstream
    pair chain when the graph is over the driver cap: the probe collects from
    a localCheckpoint and the star path reuses the same materialization.
    Counted with an accumulator in the chain, both sides of the cap."""
    from pyspark.sql import functions as F

    from video_features_spark.operators import dedup
    from video_features_spark.operators.dedup import connected_components

    for cap in (1, 500_000):  # over-cap -> star path; under-cap -> union-find
        monkeypatch.setattr(dedup, "_MAX_LOCAL_PAIRS", cap)
        acc = spark.sparkContext.accumulator(0)

        @F.udf("long")
        def traced(x):
            acc.add(1)
            return x

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
        ).select(traced("id_a").alias("id_a"), F.col("id_b"))
        comp = {
            r["id"]: r["component"]
            for r in connected_components(pairs).collect()
        }
        assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
        assert acc.value == 3, (
            f"pair chain evaluated {acc.value / 3:.0f}x at cap={cap} "
            "(must be exactly once)"
        )


def test_ivf_ann_recall_and_exactness_at_full_probe(spark, sf_dir):
    from video_features_spark.operators.similarity import ivf_ann_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter("vec_id < 10").select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r["query_id"], r["vec_id"]) for r in cosine_topk(emb, q, k=5).collect()}
    approx = {(r["query_id"], r["vec_id"]) for r in
              ivf_ann_topk(emb, q, k=5, n_centroids=16, nprobe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall {recall} collapsed"
    # probing every cell must reproduce the exact result (IVF → brute force)
    full = {(r["query_id"], r["vec_id"]) for r in
            ivf_ann_topk(emb, q, k=5, n_centroids=8, nprobe=8).collect()}
    assert full == exact


def test_minhash_dedup_jaccard_values_are_exact(corpus):
    """The candidate-restricted verifier must return the same jaccard VALUES
    as the full exact computation for every verified pair."""
    verified = minhash_dedup(corpus, "doc_id", "text", 32, 8, 5, threshold=0.7)
    exact = jaccard_pairs(corpus, "doc_id", "text", 5, threshold=0.7)
    j = verified.join(
        exact.withColumnRenamed("jaccard", "jaccard_exact"), ["id_a", "id_b"], "left"
    )
    assert j.filter(F.col("jaccard_exact").isNull()).count() == 0  # precision exact
    assert j.filter(F.abs(F.col("jaccard") - F.col("jaccard_exact")) > 1e-12).count() == 0


def test_near_dup_join_self_lookup_equals_minhash_dedup(spark, sf_dir):
    """Looking the corpus up against itself, restricted to doc_id < corpus_id,
    is the self-dedup: the same pairs with the same jaccard, because the
    lookup and ``minhash_dedup`` share one signature, banding and verify
    chain."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    lookup = near_dup_join(docs, docs.withColumnRenamed("doc_id", "corpus_id")).filter(
        F.col("doc_id") < F.col("corpus_id")
    )
    got = sorted(tuple(r) for r in lookup.select("doc_id", "corpus_id", "jaccard").collect())
    want = sorted(tuple(r) for r in minhash_dedup(docs, "doc_id", "text").collect())
    assert got and got == want


def test_embedding_near_dup_blocked_matches_planted_and_plan(spark, sf_dir):
    """Blocked near-dup finds the planted dups, is a subset of brute force,
    and its physical plan contains NO nested-loop join over the corpus."""
    from video_features_spark.operators.dedup import embedding_near_dup_blocked

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    planted = emb.filter("vec_id < 3").select(
        (F.col("vec_id") + 9000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
    )
    df = emb.select("vec_id", "embedding").unionByName(planted)
    blocked = embedding_near_dup_blocked(df, "vec_id", dim=64, threshold=0.999)
    got = {(r["id_a"], r["id_b"]) for r in blocked.collect()}
    assert {(0, 9000), (1, 9001), (2, 9002)} <= got
    # numpy all-pairs cosine; the 1e-9 slack absorbs summation-order ulps
    rows = df.toPandas().sort_values("vec_id")
    ids = rows["vec_id"].to_numpy()
    vecs = np.stack(rows["embedding"].to_numpy()).astype(np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    ia, ib = np.nonzero(np.triu(unit @ unit.T >= 0.999 - 1e-9, k=1))
    brute = set(zip(ids[ia].tolist(), ids[ib].tolist()))
    assert got <= brute  # verify step keeps precision exact
    plan = blocked._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_ivf_centroid_fit_no_global_sort(spark, sf_dir):
    """The centroid sample must compile to TakeOrderedAndProject (per-partition
    top-k), not a full Sort+Exchange of the corpus."""
    from video_features_spark.operators.similarity import ivf_fit_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sampled = (
        emb.select(F.xxhash64("vec_id").alias("__h"), F.col("embedding"))
        .orderBy("__h")
        .limit(64)
    )
    plan = sampled._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # determinism across partitionings
    a = ivf_fit_centroids(emb.repartition(2), n_centroids=8, sample_size=128)
    b = ivf_fit_centroids(emb.repartition(13), n_centroids=8, sample_size=128)
    assert (a == b).all()


def _union_find(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_cc_star_handles_adversarial_chain(spark, monkeypatch):
    """The round-4 hardening gate: an adversarial duplicate CHAIN needs
    O(length) rounds under min-label propagation but only O(log²) under
    large-star/small-star contraction — the star path must be exact on a
    120-chain within 12 rounds."""
    from video_features_spark.operators import dedup
    from video_features_spark.operators.dedup import _cc_alternating_stars

    monkeypatch.setattr(dedup, "_MAX_STAR_ROUNDS", 12)
    n = 120
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    star = {
        r["id"]: r["component"]
        for r in _cc_alternating_stars(pairs, "id_a", "id_b").collect()
    }
    assert star == {i: 0 for i in range(n)}


from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402


@st.composite
def _graphs(draw):
    n = draw(st.integers(min_value=2, max_value=20))
    n_edges = draw(st.integers(min_value=1, max_value=32))
    edges = [
        (draw(st.integers(0, n - 1)), draw(st.integers(0, n - 1)))
        for _ in range(n_edges)
    ]
    return [e for e in edges if e[0] != e[1]] or [(0, 1)]


@given(edges=_graphs())
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_cc_star_and_auto_equal_union_find(spark, edges):
    """Hypothesis gate: on random graphs (self-loop-free, duplicate edges
    legal, both orientations legal) both connected-components paths agree
    with a pure-Python union-find ground truth."""
    from video_features_spark.operators.dedup import _cc_alternating_stars, connected_components

    nodes = sorted({x for e in edges for x in e})
    want = _union_find(nodes, edges)
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    auto = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert auto == want  # driver-side union-find path (under-cap graphs)
    # the distributed star path (what an over-cap graph takes), same answer
    star = {
        r["id"]: r["component"]
        for r in _cc_alternating_stars(pairs, "id_a", "id_b").collect()
    }
    assert star == want


def test_cc_star_refuses_unconverged_output(spark, monkeypatch):
    """Exhausting the star rounds before the star forest forms must raise, never
    silently emit multi-parent rows (wrong dedup groups)."""
    import pytest as _pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    from video_features_spark.operators import dedup

    monkeypatch.setattr(dedup, "_MAX_STAR_ROUNDS", 1)
    monkeypatch.setattr(dedup, "_MAX_LOCAL_PAIRS", 0)
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs).collect()


def _ref_shingle_set(text, n=5):
    """Pure-Python twin of the in-row shingle-hash set: char n-grams (a text
    shorter than n is its own single shingle), md5-prefix hashes, and NULL
    text as the empty set."""
    if text is None:
        return set()
    grams = {text[i:i + n] for i in range(max(len(text) - n + 1, 1))}
    return {int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams}


def test_jaccard_on_pair_sets_matches_python_reference(spark):
    """The set-based verify (minhash_dedup's hot path) must agree with a
    pure-Python Jaccard on every pair, both join strategies, including
    zero-overlap, sub-shingle-length and NULL-text docs."""
    from video_features_spark.operators.dedup import jaccard_on_pair_sets

    texts = {
        "a": "the quick brown fox jumps over the lazy dog",
        "b": "the quick brown fox jumps over the lazy cat",
        "c": "completely unrelated text with no shared shingles!",
        "d": "the quick brown fox jumps over the lazy dog",  # == a
        "e": "xy",  # shorter than shingle_n
        "f": None,  # NULL text
        "g": None,  # NULL text: f-g must be 0.0, never NULL==NULL 1.0
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id string, text string")
    pair_list = [("a", "b"), ("a", "c"), ("a", "d"), ("a", "e"), ("f", "g"), ("a", "f")]
    pairs = spark.createDataFrame(pair_list, "id_a string, id_b string")
    want = {}
    for x, y in pair_list:
        sx, sy = _ref_shingle_set(texts[x]), _ref_shingle_set(texts[y])
        want[(x, y)] = len(sx & sy) / len(sx | sy) if sx | sy else 0.0
    for bc in (True, False):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in jaccard_on_pair_sets(
                docs, pairs, "doc_id", "text", 5, threshold=0.0, broadcast_pairs=bc
            ).collect()
        }
        assert set(got) == set(want)
        for k in got:
            assert abs(got[k] - want[k]) < 1e-12, (bc, k, got[k], want[k])
    assert want[("a", "d")] == 1.0  # identical docs
    assert want[("a", "c")] == 0.0  # zero overlap survives at threshold 0
    assert want[("a", "e")] == 0.0  # sub-shingle-length doc
    assert want[("f", "g")] == 0.0  # NULL-text pair


def test_inrow_signatures_match_exploded_aggregate(spark):
    """The in-row ``_minhash_expr`` (near_dup_join's and the stream lookup's
    signature) and the explode + partial-aggregate ``minhash_signatures``
    are bit-identical, with the same schema: NULL text (n_hashes NULLs),
    "", a text shorter than shingle_n, multi-byte UTF-8 and repeated
    shingles, from 1 and from 16 input partitions."""
    from video_features_spark.operators.dedup import _minhash_expr, shingle_sets

    texts = [
        None,
        "",
        "abc",
        "naïve café — 日本語のテキスト ✓ über straße",
        "abcab" * 12,
        "abcabcabcabcabcabc",
    ] + [f"document number {i} with some repeated shingle text {i % 3}" for i in range(40)]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    n_hashes = 16
    inrow = shingle_sets(docs, "doc_id", "text", 5).select(
        "doc_id", _minhash_expr(n_hashes).alias("minhash")
    )
    want = {r["doc_id"]: list(r["minhash"]) for r in inrow.collect()}
    assert len(want) == len(texts)
    assert want[0] == [None] * n_hashes
    assert all(None not in sig for k, sig in want.items() if texts[k] is not None)
    for parts in (1, 16):
        sigs = minhash_signatures(docs.repartition(parts), "doc_id", "text", n_hashes, 5)
        assert sigs.schema == inrow.schema
        assert {r["doc_id"]: list(r["minhash"]) for r in sigs.collect()} == want


def _final_plan_nodes(plan: str) -> list[tuple[str, str]]:
    """(node name, detail block) of every node of a status-store plan
    description's final (or current) plan, in tree order."""
    final = re.split(r"== (?:Final|Current) Plan ==", plan)[1].split("== Initial Plan ==")[0]
    blocks = [b.strip() for b in plan.split("\n\n")]
    by_id = {int(b[1:b.index(")")]): b for b in blocks if re.match(r"\(\d+\) ", b)}
    found = (re.search(r"(\w+)[^(]*\((\d+)\)", ln) for ln in final.splitlines()[1:])
    return [(m.group(1), by_id[int(m.group(2))]) for m in found if m]


def test_signature_aggregate_runs_once_in_the_candidate_self_join(spark, sf_dir):
    """The candidate self-join's two sides share one exchange of the
    signatures (ReuseExchange): the final plan explodes shingle positions
    and partially aggregates the minima once, and holds one ReusedExchange."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cands = lsh_candidate_pairs(minhash_signatures(docs, "doc_id", "text", 32, 5), "doc_id", 8)
    store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
    cands.collect()
    execs = store.executionsList()
    nodes = _final_plan_nodes(execs.apply(execs.size() - 1).physicalPlanDescription())
    assert sum(n == "HashAggregate" and "partial_min(" in b for n, b in nodes) == 1
    assert sum(n == "Generate" and "sequence(" in b for n, b in nodes) == 1
    assert sum(n == "ReusedExchange" for n, _ in nodes) == 1


def test_shingle_hash_matches_its_sql_template(spark):
    """``shingle_hash`` (the Column form) and ``_SHINGLE_HASH_SQL`` (the text
    the wide MinHash expressions are built from) give the same value on NULL,
    "", ASCII and multi-byte UTF-8 text."""
    from video_features_spark.operators.dedup import _SHINGLE_HASH_SQL, shingle_hash

    texts = [None, "", "abcde", "naïve", "日本語のテ", "✓ über", "İSTANBUL"]
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    sql = F.expr(_SHINGLE_HASH_SQL.format("s"))
    rows = df.select("s", shingle_hash(F.col("s")).alias("col"), sql.alias("sql")).collect()
    assert [r["col"] for r in rows] == [r["sql"] for r in rows]
    assert rows[0]["col"] is None
    assert all(isinstance(r["col"], int) for r in rows[1:])
    assert rows[1]["col"] == int(hashlib.md5(b"").hexdigest()[:8], 16)
    assert rows[4]["col"] == int(hashlib.md5("日本語のテ".encode()).hexdigest()[:8], 16)


def test_plan_building_cost_is_flat_in_hashes_and_bands(spark, sf_dir):
    """Building the MinHash chains makes the same number of py4j calls at
    (n_hashes, bands) = (32, 8) and (128, 32): every expression whose size
    grows with a parameter is one SQL text, so no Python loop of ``Column``
    calls (each one several py4j round trips) is left."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    corpus = docs.withColumnRenamed("doc_id", "corpus_id")
    builds = {
        "lsh_candidate_pairs": lambda h, b: lsh_candidate_pairs(
            minhash_signatures(docs, "doc_id", "text", h, 5), "doc_id", b
        ),
        "near_dup_join": lambda h, b: near_dup_join(docs, corpus, n_hashes=h, bands=b),
    }
    counts = {}
    with py4j_commands(spark) as sent:
        for name, build in builds.items():
            build(32, 8)  # first-use lookups are not part of the cost
            for params in ((32, 8), (128, 32)):
                sent.clear()
                build(*params)
                counts[name, params] = len(sent)
    for name in builds:
        assert counts[name, (32, 8)] == counts[name, (128, 32)], counts
        assert counts[name, (32, 8)] < 1_000, counts
