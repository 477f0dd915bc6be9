"""Point-in-time (as-of) join: for every probe row (entity, probe_ts), attach the
latest build-side row of the same entity with ``build_ts < probe_ts`` (strict,
leakage-free) or ``<=`` (non-strict). Left-outer: probes with no qualifying build
row keep nulls.

This is the north-rule centerpiece. The reference has no relational joins — its
closest analog is the consecutive-frame overlap pairing
(``/root/reference/models/_base/base_flow_extractor.py:78-84``) — so the design
here is Spark-first, not a port.

Physical plan
-------------
Union probe+build rows tagged by side, then one window pass per entity:
``last(build_payload, ignorenulls=True)`` over
``(entity ORDER BY ts, side_tag, tiebreak ROWS UNBOUNDED PRECEDING..CURRENT)``.
Strictness is encoded purely in the sort: for strict ``<`` probes sort
*before* builds at equal ts (so an equal-ts feature is outside the frame);
for ``<=`` builds sort first; duplicate-(key, ts) build rows sort by
``_build_tiebreak``, so the max-hash row wins. The plan is hash-partition →
sort-within-partitions → streaming window frame: a sort-merge join with one
shuffle, no Python, whole-stage codegen end-to-end and O(1) frame state per
row. This is the shape that survives 100 TB: sort-merge within range
partitions, no N×M blowup.

Skew
----
``salt_threshold`` activates explicit hot-key salting (north rule: "explicit
salting for hot phash buckets"): probe rows of hot entities are split across
``num_salts`` buckets by a deterministic hash; the hot entity's build rows are
*replicated* to every bucket so each probe still sees the full timeline —
correctness-preserving fan-out, same trick as broadcast-salted joins. Hot-key
detection is an aggregation on the probe side (at cluster scale: a sampled
sketch); the hot set is broadcast-joined to both sides.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

_SALT = "__asof_salt"


def _with_salt(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    salt_threshold: int | None,
    num_salts: int,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Attach a salt column to both sides; hot keys fan probe rows out across
    ``num_salts`` buckets and replicate build rows into all of them."""
    if not salt_threshold:
        return left, right, list(on)
    hot = (
        left.groupBy(*on)
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") > salt_threshold)
        .select(*on, F.lit(True).alias("__hot"))
    )
    lcols, rcols = left.columns, right.columns
    left = (
        left.join(F.broadcast(hot), list(on), "left")
        .withColumn(
            _SALT,
            F.when(F.col("__hot"), F.pmod(F.xxhash64(*lcols), F.lit(num_salts)).cast("int"))
            .otherwise(F.lit(0)),
        )
        .drop("__hot", "__cnt")
    )
    right = (
        right.join(F.broadcast(hot), list(on), "left")
        .withColumn(
            "__salts",
            F.when(F.col("__hot"), F.sequence(F.lit(0), F.lit(num_salts - 1)))
            .otherwise(F.array(F.lit(0))),
        )
        .withColumn(_SALT, F.explode("__salts"))
        .select(*rcols, _SALT)
    )
    return left, right, [*on, _SALT]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str] | None = None,
    strict: bool = True,
    salt_threshold: int | None = None,
    num_salts: int = 16,
) -> DataFrame:
    """As-of join ``left`` (probe/labels) against ``right`` (build/features).

    Returns all ``left`` columns plus ``right_cols`` (default: every non-key,
    non-ts right column) taken from the qualifying build row, plus the matched
    build timestamp as ``{right_ts}_asof`` (null when no match).
    """
    on = list(on)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in on and c != right_ts]
    right_cols = list(right_cols)
    left, right, keys = _with_salt(left, right, on, salt_threshold, num_salts)
    asof_ts = f"{right_ts}_asof"
    # side tag controls tie behavior at equal ts: the window frame ends at the
    # current row, so whichever side sorts LAST at a given ts "sees" the other.
    probe_tag, build_tag = (0, 1) if strict else (1, 0)
    lpay = [c for c in left.columns if c not in keys and c != left_ts and c != _SALT]

    l_u = left.select(
        *keys,
        F.col(left_ts).cast("timestamp").alias("__ts"),
        F.lit(probe_tag).alias("__tag"),
        F.struct(*[F.col(c) for c in lpay]).alias("__lpay") if lpay else F.lit(None).alias("__lpay"),
        F.lit(None).cast(
            "struct<" + ",".join(f"`{c}`:{right.schema[c].dataType.simpleString()}" for c in right_cols)
            + f",`{asof_ts}`:timestamp>"
        ).alias("__rpay"),
    )
    r_u = right.select(
        *keys,
        F.col(right_ts).cast("timestamp").alias("__ts"),
        F.lit(build_tag).alias("__tag"),
        F.lit(None).cast(l_u.schema["__lpay"].dataType.simpleString()).alias("__lpay"),
        F.struct(
            *[F.col(c) for c in right_cols], F.col(right_ts).cast("timestamp").alias(asof_ts)
        ).alias("__rpay"),
    )
    u = l_u.unionByName(r_u).withColumn(
        "__tb",
        F.when(F.col("__tag") == build_tag, _build_tiebreak(["__rpay." + c for c in right_cols], f"__rpay.{asof_ts}"))
        .otherwise(F.lit(0)),
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__tag", "__tb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.withColumn("__fill", F.last("__rpay", ignorenulls=True).over(w))
    probes = filled.filter(F.col("__tag") == probe_tag)
    out_cols = (
        [F.col(k) for k in on]
        + [F.col("__ts").alias(left_ts)]
        + [F.col(f"__lpay.{c}").alias(c) for c in lpay]
        + [F.col(f"__fill.{c}").alias(c) for c in right_cols]
        + [F.col(f"__fill.{asof_ts}").alias(asof_ts)]
    )
    return probes.select(*out_cols)


def _build_tiebreak(payload, ts):
    """Deterministic tiebreak among build rows sharing (key, ts): xxhash64 of
    the full build payload (``payload`` and ``ts``: column names or Columns).
    Without it, which duplicate-(key, ts) build row the as-of join picks
    depends on input partitioning/order (datagen produces such dups: same
    phash+ts, different embeddings). The batch join and the streaming lookup
    use the SAME hash so they pick the same winner: the max-hash row."""
    return F.xxhash64(F.struct(*payload, ts))


def _leak(label_ts: str, asof_ts: str, strict: bool):
    """The one leak predicate: a matched feature timestamp at (strict) or
    after its label timestamp. Null ``asof_ts`` (no match) never leaks."""
    cond = F.col(asof_ts) >= F.col(label_ts) if strict else F.col(asof_ts) > F.col(label_ts)
    return F.col(asof_ts).isNotNull() & cond


LEAK_MESSAGE_PREFIX = "temporal leakage"


def _leak_message(label_ts: str, asof_ts: str, strict: bool) -> str:
    return f"{LEAK_MESSAGE_PREFIX}: {asof_ts} {'>=' if strict else '>'} {label_ts}"


def assert_no_leakage(
    result: DataFrame, label_ts: str, asof_ts: str, strict: bool = True
) -> None:
    """Zero-temporal-leakage gate (north rule): every matched feature timestamp
    must be strictly before (or ≤) its label timestamp. Raises on violation.
    Runs its own count; to gate a write without a second pass over the plan,
    wrap the frame in ``leakage_guard`` instead."""
    n = result.filter(_leak(label_ts, asof_ts, strict)).count()
    if n:
        raise AssertionError(f"{_leak_message(label_ts, asof_ts, strict)}: {n} rows")


def leakage_guard(df: DataFrame, label_ts: str, asof_ts: str, strict: bool = True) -> DataFrame:
    """``df`` unchanged, except that evaluating any leaking row fails the task
    with Spark's ``USER_RAISED_EXCEPTION`` (message starts "temporal
    leakage", names the row's ``entity_id`` when the frame has one, and both
    timestamps). The gate rides inside whatever action consumes ``df``: a
    write through it aborts its job before anything commits.

    A ``filter``, not a dropped ``withColumn``: column pruning would delete a
    dropped check column and the check with it. The predicate reads
    ``asof_ts``, so the optimizer cannot move it below the as-of window."""
    who = [F.lit("entity_id="), F.col("entity_id").cast("string"), F.lit(", ")] if (
        "entity_id" in df.columns
    ) else []
    msg = F.concat(
        F.lit(_leak_message(label_ts, asof_ts, strict) + " ("),
        *who,
        F.lit(f"{label_ts}="), F.col(label_ts).cast("string"),
        F.lit(f", {asof_ts}="), F.col(asof_ts).cast("string"),
        F.lit(")"),
    )
    return df.filter(F.when(_leak(label_ts, asof_ts, strict), F.raise_error(msg)).otherwise(F.lit(True)))
