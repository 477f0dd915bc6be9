"""Physical-plan audit: assert the plan shapes we designed for actually hold
(pushdown, pruning, shared window exchanges, broadcast joins). Run after
operator changes: python scripts/plan_audit.py [sf_dir]."""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from video_features_spark.session import get_spark  # noqa: E402


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def optimized_plan_lines(df) -> list[str]:
    text = plan_of(df, "extended")
    start = text.index("== Optimized Logical Plan ==")
    return text[start:text.index("== Physical Plan ==")].splitlines()[1:]


def exchange_schemas(df, kinds: tuple[str, ...] = ("Exchange",)) -> list[str]:
    """The schema (``simpleString``, nested fields included) of every node of
    the given ``kinds`` (default: shuffle ``Exchange``; add
    ``"BroadcastExchange"`` for broadcasts) in ``df``'s physical plan; ``df``
    must not have run yet (its adaptive plan is still the initial one)."""
    plan = df._jdf.queryExecution().executedPlan()
    stack, out = [plan.executedPlan() if plan.nodeName() == "AdaptiveSparkPlan" else plan], []
    while stack:
        node = stack.pop()
        if node.nodeName() in kinds:
            out.append(node.schema().simpleString())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def final_plans(spark, action) -> list[str]:
    """The final (AQE) physical-plan description of every SQL execution
    ``action()`` runs, read from the session's status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    before = store.executionsList().size()
    action()
    execs = store.executionsList()
    return [execs.apply(i).physicalPlanDescription() for i in range(before, execs.size())]


def final_plan_nodes(plan: str) -> list[tuple[str, str]]:
    """(node name, detail block) of every node of a status-store plan
    description's final (or current) plan, in tree order."""
    final = re.split(r"== (?:Final|Current) Plan ==", plan)[1].split("== Initial Plan ==")[0]
    blocks = [b.strip() for b in plan.split("\n\n")]
    by_id = {int(b[1:b.index(")")]): b for b in blocks if re.match(r"\(\d+\) ", b)}
    found = (re.search(r"(\w+)[^(]*\((\d+)\)", ln) for ln in final.splitlines()[1:])
    return [(m.group(1), by_id[int(m.group(2))]) for m in found if m]


def call_args(text: str, start: int) -> str:
    """The text from ``start`` (just past an opening parenthesis) up to its
    matching closing parenthesis."""
    depth = 1
    for i in range(start, len(text)):
        depth += {"(": 1, ")": -1}.get(text[i], 0)
        if not depth:
            return text[start:i]
    raise ValueError("unbalanced parentheses")


def _depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def is_ancestor(lines: list[str], i: int, j: int) -> bool:
    """Tree line ``i`` is an ancestor of line ``j`` in an explain() tree."""
    return i < j and all(_depth(line) > _depth(lines[i]) for line in lines[i + 1 : j + 1])


def checks(spark, sf_dir: str, tmp: str) -> list[str]:
    """Run every check; scratch tables go under ``tmp``. Returns the failures."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    failures = []

    # 1. predicate pushdown + column pruning reach the scan
    q = (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    p = plan_of(q)
    if "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual" not in p:
        failures.append("tpch filter NOT pushed to scan")
    if "l_extendedprice" in p:
        failures.append("tpch scan reads unprojected columns")

    # 2. chained window ops over one (key, order) spec share a single sort
    from video_features_spark.operators import backfill, lag_lead, sessionize

    chained = backfill(
        sessionize(lag_lead(ev, ["user_id"], "ts", "value"), ["user_id"], "ts", 1800),
        ["user_id"],
        "ts",
        ["value"],
    )
    n_sorts = plan_of(chained).count(" Sort ")
    if n_sorts > 1:
        failures.append(f"chained windows use {n_sorts} sorts (expected 1 shared)")

    # 3. small-side joins broadcast (never SortMergeJoin for the query side)
    import __spark_entry__ as entrymod

    p = plan_of(entrymod.queries()["cosine_topk"](spark, sf_dir))
    if "SortMergeJoin" in p:
        failures.append("cosine_topk fell back to SortMergeJoin")
    if "BroadcastExchange" not in p:
        failures.append("cosine_topk query side not broadcast")

    # 4. image pipeline reads only the columns it needs
    from video_features_spark.operators.features import extract_image_features
    from video_features_spark.sources.datagen import generate_images

    d = os.path.join(tmp, "imgs")
    generate_images(spark, 50, n_entities=2).write.mode("overwrite").parquet(d)
    p = plan_of(extract_image_features(spark.read.parquet(d)))
    read_line = next(line for line in p.splitlines() if "ReadSchema" in line)
    for unneeded in ("caption", "phash", "w:", "h:"):
        if unneeded in read_line:
            failures.append(f"image pipeline scan reads unneeded column {unneeded}")

    # 5. as-of join: exactly ONE exchange feeding one sort —
    #    union both sides, hash-partition on the key, sort within partitions,
    #    streaming window frame. No Python stage, no N×M join.
    from video_features_spark.operators import asof_join

    probe = ev.select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"))
    build = ev.select("user_id", F.col("ts").cast("timestamp").alias("fts"), "value")
    p = plan_of(
        asof_join(probe, build, on=["user_id"], left_ts="ts", right_ts="fts", strict=True)
    )
    n_exchanges = p.count(" Exchange ")
    if n_exchanges > 1:
        failures.append(f"as-of join has {n_exchanges} exchanges (expected 1)")
    for bad in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        if bad in p:
            failures.append(f"as-of join runs Python ({bad})")

    # 6. image decode+embed pipeline: embarrassingly parallel — NO shuffle
    p = plan_of(extract_image_features(spark.read.parquet(d)))
    if " Exchange " in p:
        failures.append("image pipeline shuffles (should be map-only)")

    # 7. LSH verify touches only candidate pairs: the pair list broadcasts
    #    into the shingle table (no full-corpus shingle self-join)
    p = plan_of(entrymod.queries()["minhash_lsh_dedup"](spark, sf_dir))
    if "BroadcastExchange" not in p:
        failures.append("minhash verify does not broadcast the candidate pairs")

    # 8. blocked near-dup: bucket-join, never a nested-loop over the corpus
    p = plan_of(entrymod.queries()["embedding_near_dup_blocked"](spark, sf_dir))
    if "BroadcastNestedLoopJoin" in p or "CartesianProduct" in p:
        failures.append("blocked near-dup plans a nested-loop join")

    # 10. verify auto-switch: the bounded candidate probe
    #     (_resolve_candidate_pairs) feeding jaccard_on_pair_sets broadcasts a
    #     candidate set under the cap and plans a SHUFFLE join (no
    #     executor-memory broadcast) for one above it. Catalyst's own
    #     size-based auto-broadcast is disabled for the check so any
    #     BroadcastExchange left is the operator's explicit F.broadcast.
    from video_features_spark.operators.dedup import (
        _MAX_LOCAL_PAIRS,
        _resolve_candidate_pairs,
        jaccard_on_pair_sets,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cands = lsh_candidate_pairs(minhash_signatures(docs, "doc_id", "text"), "doc_id")

    def verify_plan(max_broadcast_pairs: int) -> str:
        pairs, bc = _resolve_candidate_pairs(cands, max_broadcast_pairs)
        return plan_of(
            jaccard_on_pair_sets(docs, pairs, "doc_id", "text", 5, broadcast_pairs=bc)
        )

    prior_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p_small = verify_plan(_MAX_LOCAL_PAIRS)
        p_big = verify_plan(0)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior_thresh)
    if "BroadcastExchange" not in p_small:
        failures.append("jaccard auto-switch: small candidate set not broadcast")
    if "BroadcastExchange" in p_big:
        failures.append("jaccard auto-switch: over-cap candidate set still broadcasts")

    # 11. video container → frame stream → decode+embed: the whole chain is
    #     map-only (zero Exchange) — the property that scales with executors
    from video_features_spark.operators.video import extract_video_frames
    from video_features_spark.sources.datagen import generate_videos

    vids = generate_videos(spark, 4, n_entities=2)
    frames = extract_video_frames(vids).filter(F.col("error").isNull())
    chain = extract_image_features(
        frames.select(
            F.col("video_id").alias("image_id"), "entity_id",
            F.col("frame_ts").alias("ts"), "bytes", "fmt",
        )
    )
    if " Exchange " in plan_of(chain):
        failures.append("video frame pipeline shuffles (should be map-only)")

    # 12. set-based verify: the WIDE shingle-set sides must never broadcast
    #     (Catalyst's parquet-derived stats underestimate in-row array width
    #     by ~1000x) — the only BroadcastExchange allowed feeds the candidate
    #     pair list / id semi-filters, and both set joins are shuffle-hash
    from video_features_spark.operators.dedup import minhash_dedup

    p = plan_of(minhash_dedup(docs, "doc_id", "text", 32, 8, 5, 0.5))
    if "ShuffledHashJoin" not in p:
        failures.append("set verify does not shuffle-hash the wide set sides")
    # formatted explain prints one detail block per node: any BroadcastExchange
    # whose Input mentions a shingle-set column is the bug this audit pins
    for block in p.split("\n\n"):
        if "BroadcastExchange" in block and ("__sa" in block or "__sb" in block or "__sset" in block):
            failures.append("set verify broadcasts a shingle-set side")
            break

    # 12b. the over-cap / 100 TB verify shape, audited DIRECTLY: at audit
    #      scale minhash_dedup's bounded probe always localizes the
    #      candidates, so the shuffle-pairs production variant (the one a
    #      1000-executor run with millions of candidates takes) would
    #      otherwise never be shape-asserted — a regression that broadcasts
    #      the wide set side in THAT path is exactly the bug this audit
    #      exists to pin. Building this plan runs no probe and no jobs.
    cands_lazy = lsh_candidate_pairs(
        minhash_signatures(docs, "doc_id", "text", 32, 5), "doc_id", 8
    )
    p = plan_of(
        jaccard_on_pair_sets(
            docs, cands_lazy, "doc_id", "text", 5, 0.5, broadcast_pairs=False
        )
    )
    if "ShuffledHashJoin" not in p:
        failures.append("forced-shuffle set verify lost its shuffle-hash joins")
    for block in p.split("\n\n"):
        if "BroadcastExchange" in block and ("__sa" in block or "__sb" in block or "__sset" in block):
            failures.append("forced-shuffle set verify broadcasts a shingle-set side")
            break

    # 14. the flagship's leakage gate survives optimization: the guard's
    #     raise_error predicate (built into the plan ``build`` returns and
    #     ``run`` writes) sits in a Filter ABOVE the as-of Window (a refactor
    #     that lets column pruning or pushdown drop it would make the gated
    #     write silently ungated)
    from video_features_spark.plans import FeatureJobSpec, build
    from video_features_spark.sources.datagen import generate_labels

    lbl = os.path.join(tmp, "lbls")
    generate_labels(spark, 20, n_entities=2).write.mode("overwrite").parquet(lbl)
    spec = FeatureJobSpec(images_path=d, labels_path=lbl, output_path=lbl + "_out")
    lines = optimized_plan_lines(build(spark, spec))
    # (the undecodable-match guard is a raise_error Filter above the Window
    # too: only the leakage message names this one)
    guards = [
        i for i, line in enumerate(lines)
        if "Filter" in line and "raise_error" in line and "temporal leakage" in line
    ]
    windows = [i for i, line in enumerate(lines) if line.lstrip(" :+-").startswith("Window ")]
    if not any(is_ancestor(lines, g, w) for g in guards for w in windows):
        failures.append("leakage guard's raise_error Filter is not above the as-of Window")

    # 15. the metadata-only flagship match (the asof_merge driver query):
    #     exactly one Exchange, the as-of window's, and image bytes never
    #     cross it. The join packs the build columns into one struct, so the
    #     check reads each Exchange's schema (nested fields included) for a
    #     binary column rather than its Input names.
    schemas = exchange_schemas(entrymod.queries()["asof_merge"](spark, sf_dir))
    if len(schemas) != 1:
        failures.append(f"metadata as-of match has {len(schemas)} exchanges (expected 1)")
    if any(":binary" in sch for sch in schemas):
        failures.append("metadata as-of match shuffles image bytes")

    # 16. the plan ``run`` writes never moves media bytes: the matched-key
    #     filter reaches the image scan through a broadcast of the keys, and
    #     neither a shuffle Exchange nor a BroadcastExchange carries a binary
    #     column. The writer is swapped for one that hands back its input,
    #     keyed as the real writer keys it (no exchange), without running it.
    import video_features_spark.sources.checkpoint as ckpt
    from video_features_spark.plans import run
    from video_features_spark.session import session_conf

    class Written(Exception):
        pass

    def capture(df, base_path, key_cols, num_parts=64, **_):
        keyed = ckpt.with_partition_id(df, key_cols, num_parts)
        keyed._jdf.queryExecution().executedPlan()  # planned under run's confs
        raise Written(keyed)

    def written_plan():
        real_write, ckpt.checkpointed_write = ckpt.checkpointed_write, capture
        try:
            run(spark, spec)
        except Written as w:
            return w.args[0]
        finally:
            ckpt.checkpointed_write = real_write
        failures.append("run wrote nothing to audit")

    written = written_plan()
    if written is not None:
        schemas = exchange_schemas(written, ("Exchange", "BroadcastExchange"))
        if not any("embedding" in sch for sch in schemas):
            failures.append("run's written plan has no exchange carrying embeddings")
        if any(":binary" in sch for sch in schemas):
            failures.append("run's written plan moves media bytes through an exchange")

    # 17. the unsalted flagship write adds no exchange of its own: no
    #     REPARTITION_BY_COL shuffle (the writer's old repartition on the
    #     part id), and an embedding crosses at most one shuffle. Broadcast
    #     joins are off for this plan, so the embedding join-back plans as
    #     the shuffle it is at scale (where only AQE turns it into a
    #     broadcast) and a second shuffle of the embeddings would show.
    with session_conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        written = written_plan()
    if written is not None:
        if "REPARTITION_BY_COL" in plan_of(written):
            failures.append("run's written plan has a REPARTITION_BY_COL exchange")
        carrying = [sch for sch in exchange_schemas(written) if "embedding" in sch]
        if len(carrying) > 1:
            failures.append(f"run's written plan shuffles embeddings {len(carrying)} times (expected <= 1)")

    # 18. MinHash signatures are one codegen'd explode + partial aggregate:
    #     in the plan of minhash_dedup's candidate probe, the partial min()
    #     aggregate sits on the shingle-position Generate with only Projects
    #     between (the exploded rows never cross an Exchange), and no in-row
    #     array_min(transform(...)) lambda is left on the signature path
    plans = [
        p for p in final_plans(spark, lambda: minhash_dedup(docs, "doc_id", "text", 32, 8, 5, 0.5))
        if "partial_min(" in p
    ]
    if len(plans) != 1:
        failures.append(f"minhash_dedup ran {len(plans)} signature plans (expected 1)")
    for p in plans:
        if "array_min(transform" in p:
            failures.append("minhash signatures still run in-row array_min(transform(...))")
        nodes = final_plan_nodes(p)
        aggs = [i for i, (n, b) in enumerate(nodes) if n == "HashAggregate" and "partial_min(" in b]
        # a unary chain: the first non-Project node below the aggregate is its input
        below = [next((n, b) for n, b in nodes[i + 1:] if n != "Project") for i in aggs]
        if not below or any(n != "Generate" or "sequence(" not in b for n, b in below):
            failures.append("signature partial aggregate is not directly on the position Generate")

    # 19. langid lowercases each text once per row: the trigram lambda reads
    #     the lowercased text as an attribute (a lower() inside the lambda
    #     re-runs over the whole text at every trigram position), and the
    #     optimized plan holds one lower( in all
    from video_features_spark.operators.text import langid_ngram

    plan = "\n".join(optimized_plan_lines(langid_ngram(docs)))
    bodies = [call_args(plan, m.end()) for m in re.finditer(r"lambdafunction\(", plan)]
    if not bodies:
        failures.append("langid's plan has no trigram lambda")
    if any("lower(" in b for b in bodies):
        failures.append("langid lowercases inside the trigram lambda")
    n_lower = plan.count("lower(")
    if n_lower != 1:
        failures.append(f"langid's plan lowercases {n_lower} times per row (expected 1)")

    # 20. curate scores each document in one projection: the final plan of
    #     its scored localCheckpoint (the one execution that scans the
    #     documents; the near-dup stage reads the checkpoint) holds no join
    #     of the scores back by id and no BroadcastExchange
    from video_features_spark.operators.text import curate_corpus

    plans = [p for p in final_plans(spark, lambda: curate_corpus(docs)) if "Scan parquet" in p]
    if len(plans) != 1:
        failures.append(f"curate_corpus scanned its documents in {len(plans)} executions (expected 1)")
    for p in plans:
        bad = sorted({n for n, _ in final_plan_nodes(p) if "Join" in n or n == "BroadcastExchange"})
        if bad:
            failures.append(f"curate's scoring plan holds {', '.join(bad)}")

    # 9. IVF centroid sample: top-k, not a global sort
    from video_features_spark.operators.similarity import _l2  # noqa: F401

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sampled = (
        emb.select(F.xxhash64("vec_id").alias("__h"), "embedding").orderBy("__h").limit(64)
    )
    p = plan_of(sampled)
    if "TakeOrderedAndProject" not in p:
        failures.append("IVF sample does not compile to TakeOrderedAndProject")

    return failures


def main(sf_dir: str) -> int:
    spark = get_spark(cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="audit_")
    try:
        failures = checks(spark, sf_dir, tmp)
    finally:  # also when a check raises
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()
    if failures:
        print("PLAN AUDIT FAILURES:")
        for f in failures:
            print(" -", f)
        return 1
    print("plan audit: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"))
