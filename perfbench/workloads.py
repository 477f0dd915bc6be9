"""The benchmark workloads: ``flagship`` and ``curate``.

Each workload drives the library only through its public functions, in a
closed loop with one client: ``iterate`` (the timed call; returns the rows
it processed), ``check`` (untimed output check; returns the failures
found), ``cleanup`` (untimed). ``targets`` are the
library functions wrapped in time spans during a traced iteration, and
``probes`` runs the traced run's per-layer materializations.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import Observation, functions as F

from stats import kernel_share, median, ratio
from tracing import last_execution_id, noop, reduce_skew, sql_node_metric

MODEL = "clip-small-det"
NUM_PARTS = 64            # FeatureJobSpec's default checkpoint granularity
LOST_PARTS = 4            # partitions whose manifest rows the resume probe drops
PIT_GAP_S = 1800.0        # phash session gap of the as-of/window probe chain
CURATE_ARGS = {"min_quality": 0.3, "lang": "en", "n_hashes": 64, "bands": 16, "shingle_n": 5,
               "jaccard_threshold": 0.5}


def flagship_spec(src: str, out: str):
    from video_features_spark.plans.pipeline import FeatureJobSpec

    return FeatureJobSpec(
        images_path=os.path.join(src, "images"),
        labels_path=os.path.join(src, "labels"),
        output_path=out,
        model=MODEL,
        num_parts=NUM_PARTS,
    )


def output_digest(spark, base: str) -> str:
    """Row count and order-independent content hash of a checkpointed output,
    read back through ``read_checkpointed``."""
    from video_features_spark.sources.checkpoint import read_checkpointed

    df = read_checkpointed(spark, base)
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return f"{r['n']}:{r['h']}"


def content_digest(out: pd.DataFrame) -> str:
    """Order-independent digest of an output table read back from disk:
    rows sorted by every scalar column, then each column hashed in turn
    (array columns as their null mask and concatenated float32 values)."""
    cols = sorted(c for c in out.columns if c != "__part")
    arrays = [c for c in cols if out[c].map(lambda v: isinstance(v, (np.ndarray, list))).any()]
    scalars = [c for c in cols if c not in arrays]
    df = out.sort_values(scalars, kind="mergesort").reset_index(drop=True)
    h = hashlib.sha256()
    for c in cols:
        h.update(c.encode())
        if c in arrays:
            present = df[c].map(lambda v: v is not None)
            h.update(present.to_numpy().tobytes())
            vals = [np.asarray(v, np.float32) for v in df[c][present]]
            h.update(np.concatenate(vals).tobytes() if vals else b"")
        else:
            h.update(pd.util.hash_pandas_object(df[c], index=False).to_numpy().tobytes())
    return h.hexdigest()


def read_checkpoint_data(base: str, **kwargs):
    """A checkpointed output's data table, read without Spark (its
    ``__part=N`` directories start with the underscore pyarrow skips by
    default)."""
    return pq.read_table(os.path.join(base, "data"), partitioning="hive",
                         ignore_prefixes=[".", "_SUCCESS"], **kwargs)


def pick_lost_parts(part_rows: dict[int, int], k: int, rng: np.random.Generator) -> list[int]:
    """k of the written partitions. Of 64 seeded draws, the one whose row
    total is closest to k/NUM_PARTS of the output, so the rewritten row count
    barely depends on the seed while which partitions are lost does."""
    ids = sorted(part_rows)
    target = sum(part_rows.values()) * k / NUM_PARTS
    draws = [sorted(int(p) for p in rng.choice(ids, k, replace=False)) for _ in range(64)]
    return min(draws, key=lambda d: abs(sum(part_rows[p] for p in d) - target))


def drop_manifest_parts(base: str, parts: list[int]) -> None:
    """Simulate a crash after the data of ``parts`` was written but before
    their manifest rows were: rewrite the manifest without them. A base
    written once has a single manifest directory and no generation pointer."""
    from video_features_spark.sources.checkpoint import PART_COL

    path = os.path.join(base, "_manifest")
    table = pq.read_table(path)
    keep = ~np.isin(table[PART_COL].to_numpy(), parts)
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(table.filter(keep), os.path.join(path, "part-00000.parquet"))


def _grouped(sc, group: str, fn):
    """Run ``fn`` with Spark jobs tagged by ``group``."""
    def run():
        sc.setJobGroup(group, group)
        fn()
    return run


def _utc_naive(s: pd.Series) -> pd.Series:
    """Spark writes timestamps as INT96 (read back tz-naive UTC); the inputs
    carry tz-aware UTC. Compare both as tz-naive UTC microseconds."""
    s = pd.to_datetime(s)
    if s.dt.tz is not None:
        s = s.dt.tz_convert(None)
    return s.astype("datetime64[us]")


class Workload:
    row = ""  # what one unit of rows_per_cpu_s is
    targets: list[tuple[str, str, str]] = []

    def __init__(self, spark, inputs: str, marker: dict, run_dir: str, seed: int):
        self.spark = spark
        self.inputs = inputs
        self.marker = marker
        self.run_dir = run_dir
        self.rng = np.random.default_rng([seed, 99])
        self.cores = spark.sparkContext.defaultParallelism

    def locate(self) -> None:
        """Resolve the input tables (planning only; part of ``setup_s``)."""

    def iterate(self, i: int) -> int:
        raise NotImplementedError

    def check(self, i: int) -> list[str]:
        return []

    def cleanup(self, i: int) -> None:
        pass

    def probes(self, tracer, it: dict) -> dict[str, float]:
        return {}


# --------------------------------------------------------------------------
# flagship: plans.run over a datagen image table + label table
# --------------------------------------------------------------------------

class Flagship(Workload):
    row = "input image"
    targets = [
        ("video_features_spark.plans.pipeline", "build", "plans.build_plan"),
        ("video_features_spark.operators.asof", "assert_no_leakage", "plans.leak_gate"),
        ("video_features_spark.sources.checkpoint", "checkpointed_write", "checkpoint.write"),
        ("video_features_spark.sources.checkpoint", "load_manifest", "checkpoint.manifest_load"),
    ]
    n_sample_entities = 3

    def locate(self) -> None:
        from video_features_spark.sources.tables import read_snapshot

        self.images = read_snapshot(self.spark, os.path.join(self.inputs, "images"))
        self.labels = read_snapshot(self.spark, os.path.join(self.inputs, "labels"))
        self.n_images, self.n_labels = self.marker["images"], self.marker["labels"]
        self.digest = None
        self.expected = None

    def iterate(self, i: int) -> int:
        from video_features_spark.plans.pipeline import run

        self.out = os.path.join(self.run_dir, f"out-{i}")
        self.stats = run(self.spark, flagship_spec(self.inputs, self.out))
        return self.n_images

    def check(self, i: int) -> list[str]:
        errors = []
        if self.stats["rows_written"] != self.n_labels:
            errors.append(f"rows_written {self.stats['rows_written']} != labels {self.n_labels}")
        out = read_checkpoint_data(self.out).to_pandas()
        if len(out) != self.n_labels:
            errors.append(f"output rows {len(out)} != labels {self.n_labels}")
        out["label_ts"], out["ts_asof"] = _utc_naive(out["label_ts"]), _utc_naive(out["ts_asof"])
        if (out["ts_asof"] >= out["label_ts"]).any():
            errors.append("temporal leakage: ts_asof >= label_ts")
        errors += self._check_sample(out)
        digest = content_digest(out)
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            errors.append(f"output digest {digest} != first iteration's {self.digest}")
        return errors

    def _oracle(self) -> dict[str, pd.DataFrame]:
        """Strict as-of by ``pandas.merge_asof`` over a seeded entity sample,
        with embeddings from the decode and embed kernels called directly."""
        from video_features_spark.functions.codec import decode_image
        from video_features_spark.functions.embed import preprocess_and_embed

        labels = pq.read_table(os.path.join(self.inputs, "labels")).to_pandas()
        labels["label_ts"] = _utc_naive(labels["label_ts"])
        present = sorted(set(labels["entity_id"]))
        sample = [str(e) for e in self.rng.choice(present, self.n_sample_entities, replace=False)]
        imgs = pq.read_table(
            os.path.join(self.inputs, "images"),
            columns=["entity_id", "ts", "bytes", "fmt"],
            filters=[("entity_id", "in", sample)],
        ).to_pandas()
        imgs["ts"] = _utc_naive(imgs["ts"])
        expected = {}
        for e in sample:
            feats = imgs[imgs["entity_id"] == e].sort_values("ts").reset_index(drop=True)
            emb = preprocess_and_embed(
                [decode_image(b, f) for b, f in zip(feats["bytes"], feats["fmt"])], MODEL
            ) if len(feats) else np.empty((0, 512), np.float32)
            right = pd.DataFrame({"ts": feats["ts"], "ts_asof": feats["ts"], "emb": list(emb)})
            left = labels[labels["entity_id"] == e].sort_values(["label_ts", "label"])
            expected[e] = pd.merge_asof(
                left, right, left_on="label_ts", right_on="ts",
                direction="backward", allow_exact_matches=False,
            ).reset_index(drop=True)
        return expected

    def _check_sample(self, out: pd.DataFrame) -> list[str]:
        if self.expected is None:
            self.expected = self._oracle()
        errors = []
        for e, exp in self.expected.items():
            got = out[out["entity_id"] == e].sort_values(["label_ts", "label"]).reset_index(drop=True)
            if len(got) != len(exp):
                errors.append(f"entity {e}: {len(got)} rows, oracle {len(exp)}")
                continue
            same_ts = (got["ts_asof"] == exp["ts_asof"]) | (got["ts_asof"].isna() & exp["ts_asof"].isna())
            if not same_ts.all():
                errors.append(f"entity {e}: ts_asof differs from the oracle at {(~same_ts).sum()} labels")
                continue
            for g, x in zip(got["embedding"], exp["emb"]):
                if (g is None) != (not isinstance(x, np.ndarray)) or (
                    g is not None and not np.allclose(np.asarray(g, np.float32), x, rtol=1e-5, atol=1e-6)
                ):
                    errors.append(f"entity {e}: embedding differs from the kernel's")
                    break
        return errors

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    # ---- traced-run probes -------------------------------------------------

    def probes(self, tracer, it: dict) -> dict[str, float]:
        m = self._kernel_probes(tracer)
        m.update(self._build_probes(tracer))
        m["features.kernel_share"] = kernel_share(
            m["codec.decode_us_per_img"], m["embed.us_per_img"], self.n_images, self.cores,
            m["features.self_s"],
        )
        m["plans.leak_gate_s"] = it["spans"].get("plans.leak_gate", 0.0)
        m["checkpoint.write_self_s"] = it["spans"].get("checkpoint.write", 0.0) - m["plans.build_s"]
        m["checkpoint.parts_written"] = self.stats["parts_written"]
        m["checkpoint.useful_ratio"] = ratio(self.stats["rows_written"], it["rows_in"])
        m.update(self._resume_probes(tracer))
        m.update(self._pit_probes(tracer))
        return m

    def _kernel_probes(self, tracer, n: int = 256) -> dict[str, float]:
        """decode_image and preprocess_and_embed µs per image on one thread
        (BLAS pinned), outside Spark, over the first ``n`` input images; the
        embed batch is one Arrow batch (``DEFAULT_ARROW_BATCH`` rows)."""
        from video_features_spark.functions.codec import decode_image
        from video_features_spark.functions.embed import preprocess_and_embed
        from video_features_spark.session import DEFAULT_ARROW_BATCH

        tab = pq.read_table(os.path.join(self.inputs, "images"), columns=["bytes", "fmt"]).slice(0, n)
        blobs, fmts = tab["bytes"].to_pylist(), tab["fmt"].to_pylist()
        dec = []
        with tracer.span("codec.decode_image"):
            for _ in range(3):
                t = time.perf_counter()
                imgs = [decode_image(b, f) for b, f in zip(blobs, fmts)]
                dec.append((time.perf_counter() - t) / len(blobs) * 1e6)
            tracer.count(images=3 * len(blobs))
        batch = [imgs[i % len(imgs)] for i in range(DEFAULT_ARROW_BATCH)]
        emb = []
        with tracer.span("embed.preprocess_and_embed"):
            for _ in range(2):
                t = time.perf_counter()
                preprocess_and_embed(batch, MODEL)
                emb.append((time.perf_counter() - t) / len(batch) * 1e6)
            tracer.count(images=2 * len(batch))
        return {"codec.decode_us_per_img": median(dec), "embed.us_per_img": median(emb)}

    def _build_probes(self, tracer) -> dict[str, float]:
        """build → noop, with its sub-plans (extract, scans) materialized on
        their own as its children."""
        from video_features_spark.operators.features import extract_image_features
        from video_features_spark.plans.pipeline import build

        spec = flagship_spec(self.inputs, os.path.join(self.run_dir, "unused"))
        s_build = tracer.timed("plans.build", lambda: noop(build(self.spark, spec)))
        obs = Observation("quarantine")
        extract = extract_image_features(self.images, MODEL).observe(
            obs, F.sum(F.col("error").isNotNull().cast("long")).alias("q")
        )
        s_ext = tracer.timed("features.extract", lambda: noop(extract), parent=s_build)
        s_scan = tracer.timed("tables.scan", lambda: noop(self.images), parent=s_ext)
        s_lab = tracer.timed("tables.scan_labels", lambda: noop(self.labels), parent=s_build)
        return {
            "plans.build_s": s_build.duration,
            "asof.self_s": s_build.duration - s_ext.duration - s_lab.duration,
            "features.extract_s": s_ext.duration,
            "features.self_s": s_ext.duration - s_scan.duration,
            "tables.scan_s": s_scan.duration + s_lab.duration,
            "features.quarantined_rows": obs.get["q"] or 0,
        }

    def _resume_probes(self, tracer) -> dict[str, float]:
        """Crash-resume on this iteration's completed output: drop the
        manifest rows of LOST_PARTS partitions, run the same spec again, and
        check that exactly those partitions are rewritten, the manifest
        verifies and the content is unchanged; then time verify and compact."""
        from video_features_spark.plans.pipeline import run
        from video_features_spark.sources.checkpoint import (
            PART_COL, compact_manifest, load_manifest, verify_manifest,
        )

        part_rows = {int(r[0]): int(r[1]) for r in
                     load_manifest(self.spark, self.out).select(PART_COL, "row_count").collect()}
        lost = pick_lost_parts(part_rows, LOST_PARTS, self.rng)
        cold_digest = output_digest(self.spark, self.out)
        s_read = tracer.timed("checkpoint.manifest_read", lambda: load_manifest(
            self.spark, self.out).select(PART_COL).distinct().collect())
        drop_manifest_parts(self.out, lost)
        first_exec = last_execution_id(self.spark)
        stats = {}
        s_run = tracer.timed("plans.resume", lambda: stats.update(
            run(self.spark, flagship_spec(self.inputs, self.out))))
        rows_in = sql_node_metric(self.spark, first_exec, "MapInArrow", "number of output rows")
        drift = []
        s_ver = tracer.timed("checkpoint.verify", lambda: drift.extend(
            verify_manifest(self.spark, self.out).collect()))
        errors = []
        if stats["parts_written"] != len(lost):
            errors.append(f"resume rewrote {stats['parts_written']} partitions, lost {len(lost)}")
        if stats["rows_written"] != sum(part_rows[p] for p in lost):
            errors.append(f"resume rewrote {stats['rows_written']} rows, lost "
                          f"{sum(part_rows[p] for p in lost)}")
        if drift:
            errors.append(f"verify_manifest reports {len(drift)} drifting partitions after resume")
        if output_digest(self.spark, self.out) != cold_digest:
            errors.append("read_checkpointed digest after resume differs from the cold write's")
        if errors:
            raise AssertionError("; ".join(errors))
        s_cmp = tracer.timed("checkpoint.compact", lambda: compact_manifest(self.spark, self.out))
        return {
            "plans.resume_s": s_run.duration,
            "checkpoint.manifest_read_s": s_read.duration,
            "checkpoint.verify_s": s_ver.duration,
            "checkpoint.compact_s": s_cmp.duration,
            "checkpoint.resume_parts_written": stats["parts_written"],
            "checkpoint.resume_rows_written": stats["rows_written"],
            "features.resume_rows_in": rows_in,
            "checkpoint.resume_useful_ratio": ratio(stats["rows_written"], rows_in),
        }

    def _pit_probes(self, tracer) -> dict[str, float]:
        """The UDF-free point-in-time chain over the same tables: salted
        strict as-of of the labels against the image metadata → lag/lead →
        caption backfill → phash-keyed sessionization. Each prefix of the
        chain is materialized; an operator's time is its prefix minus the
        previous one."""
        from video_features_spark.operators import asof, windows

        per_entity = self.labels.groupBy("entity_id").count()
        # salt the busier half of the entities, so both as-of paths run
        threshold = int(per_entity.agg(F.percentile_approx("count", 0.5)).first()[0])
        hot = per_entity.filter(F.col("count") > threshold).count()
        feats = self.images.select("entity_id", "ts", "phash", "caption")
        j = asof.asof_join(self.labels, feats, on=["entity_id"], left_ts="label_ts",
                           right_ts="ts", strict=True, salt_threshold=threshold)
        ll = windows.lag_lead(j, ["entity_id"], "label_ts", "phash", tiebreak_col="label")
        bf = windows.backfill(ll, ["entity_id"], "label_ts", ["caption"], tiebreak_col="label")
        ss = windows.sessionize(bf, ["phash"], "label_ts", PIT_GAP_S, tiebreak_col="label")
        sc = self.spark.sparkContext
        g_ss, g_j = f"probe-sessionize-{tracer.iteration}", f"probe-asof-{tracer.iteration}"
        s_ss = tracer.timed("windows.sessionize", _grouped(sc, g_ss, lambda: noop(ss)))
        s_bf = tracer.timed("windows.backfill", lambda: noop(bf), parent=s_ss)
        s_ll = tracer.timed("windows.lag_lead", lambda: noop(ll), parent=s_bf)
        s_j = tracer.timed("asof.join", _grouped(sc, g_j, lambda: noop(j)), parent=s_ll)
        hashes = ("phash", "phash_lag1", "phash_lead1")  # as text: int64 would pass through float
        errors = self._check_pit(ss.select(
            *[F.col(c).cast("string") if c in hashes else F.col(c) for c in ss.columns]).toPandas())
        if errors:
            raise AssertionError("; ".join(errors))
        return {
            "asof.join_s": s_j.duration,
            "asof.hot_keys": hot,
            "asof.partition_skew": reduce_skew(sc, g_j),
            "windows.lag_lead_s": s_ll.duration - s_j.duration,
            "windows.backfill_s": s_bf.duration - s_ll.duration,
            "windows.sessionize_s": s_ss.duration - s_bf.duration,
            "windows.sessionize_skew": reduce_skew(sc, g_ss),
        }

    def _pit_oracle(self) -> pd.DataFrame:
        """The probe chain computed by pandas over the whole input: strict
        ``merge_asof`` per entity, then shift, forward fill and gap sessions
        in the operators' (time, label) order. datagen gives every image of
        an entity its own timestamp, so no as-of tiebreak is needed."""
        labels = pq.read_table(os.path.join(self.inputs, "labels")).to_pandas()
        feats = pq.read_table(os.path.join(self.inputs, "images"),
                              columns=["entity_id", "ts", "phash", "caption"]).to_pandas()
        labels["label_ts"], feats["ts"] = _utc_naive(labels["label_ts"]), _utc_naive(feats["ts"])
        feats["ts_asof"] = feats["ts"]
        feats["phash"] = feats["phash"].astype(str)
        j = pd.merge_asof(labels.sort_values("label_ts"), feats.sort_values("ts"),
                          left_on="label_ts", right_on="ts", by="entity_id",
                          direction="backward", allow_exact_matches=False).drop(columns="ts")
        j = j.sort_values(["entity_id", "label_ts", "label"]).reset_index(drop=True)
        by_entity = j.groupby("entity_id", sort=False)
        j["phash_lag1"] = by_entity["phash"].shift(1)
        j["phash_lead1"] = by_entity["phash"].shift(-1)
        j["caption_filled"] = by_entity["caption"].ffill()
        j = j.sort_values(["phash", "label_ts", "label"], na_position="first")
        secs = j["label_ts"].astype("int64") / 1e6
        gap = secs - secs.groupby(j["phash"], dropna=False).shift(1)
        new = gap.isna() | (gap > PIT_GAP_S)
        j["session_id"] = new.astype("int64").groupby(j["phash"], dropna=False).cumsum()
        return j

    def _check_pit(self, got: pd.DataFrame) -> list[str]:
        """Compare the chain's output with ``_pit_oracle`` row by row, keyed
        by (entity, label time, label)."""
        key = ["entity_id", "label_ts", "label"]
        cols = ["phash", "caption", "ts_asof", "phash_lag1", "phash_lead1",
                "caption_filled", "session_id"]
        exp = self._pit_oracle()
        got = got.copy()
        got["label_ts"], got["ts_asof"] = _utc_naive(got["label_ts"]), _utc_naive(got["ts_asof"])
        if len(got) != len(exp):
            return [f"window chain: {len(got)} rows, oracle {len(exp)}"]
        m = exp.merge(got, on=key, how="left", suffixes=("", "_got"), indicator=True)
        if (m["_merge"] != "both").any() or len(m) != len(exp):
            return ["window chain: output rows do not match the labels one to one"]
        errors = []
        for c in cols:
            a, b = m[c], m[f"{c}_got"]
            same = (a == b).fillna(False) | (a.isna() & b.isna())
            if not same.all():
                errors.append(f"window chain: {c} differs from the pandas oracle "
                              f"at {(~same).sum()} of {len(m)} rows")
        return errors


# --------------------------------------------------------------------------
# curate: text.curate_corpus (LSH) over one single-row-group document file
# --------------------------------------------------------------------------

class Curate(Workload):
    row = "input document"
    targets = [
        ("video_features_spark.operators.dedup", "minhash_dedup", "dedup.minhash_dedup"),
        ("video_features_spark.operators.dedup", "dedup_groups", "dedup.dedup_groups"),
    ]

    def locate(self) -> None:
        from video_features_spark.sources.tables import read_snapshot

        self.docs = read_snapshot(self.spark, os.path.join(self.inputs, "documents.parquet"))
        self.out = os.path.join(self.run_dir, "curate_out")
        self.survivors = None

    def iterate(self, i: int) -> int:
        from video_features_spark.operators.text import curate_corpus

        curate_corpus(self.docs, dedup_strategy="lsh", **CURATE_ARGS) \
            .write.mode("overwrite").parquet(self.out)
        return self.marker["docs"]

    def check(self, i: int) -> list[str]:
        kept = set(pq.read_table(self.out, columns=["doc_id"])["doc_id"].to_pylist())
        errors = []
        planted = self.marker["planted_pairs"]
        collapsed = sum(1 for a, b in planted if (a in kept) + (b in kept) == 1)
        if collapsed != len(planted):
            errors.append(f"{len(planted) - collapsed} of {len(planted)} planted near-duplicate "
                          "pairs did not collapse to one survivor")
        if len(kept) != self.marker["expected_survivors"]:
            errors.append(f"{len(kept)} survivors, expected {self.marker['expected_survivors']} "
                          "(every English original)")
        for kind in ("foreign_ids", "junk_ids"):
            leaked = kept.intersection(self.marker[kind])
            if leaked:
                errors.append(f"{len(leaked)} of {kind} survived the gates")
        if self.survivors is None:
            self.survivors = kept
        elif kept != self.survivors:
            errors.append("survivor set differs from the first iteration's")
        return errors

    def probes(self, tracer, it: dict) -> dict[str, float]:
        from video_features_spark.operators import dedup, text

        def score():
            noop(text.quality_score(self.docs))
            noop(text.langid_ngram(self.docs))

        s_score = tracer.timed("text.score", score)
        s_scan = tracer.timed("tables.scan", lambda: noop(self.docs), parent=s_score)
        # curate_corpus's gates rebuilt from the public scorers and
        # materialized, so the dedup spans time dedup work only
        q = text.quality_score(self.docs).select("doc_id", "quality")
        lang = text.langid_ngram(self.docs).select("doc_id", "lang_pred")
        a = CURATE_ARGS
        kept = (self.docs.join(q, "doc_id").join(lang, "doc_id")
                .filter((F.col("quality") >= a["min_quality"]) & (F.col("lang_pred") == a["lang"]))
                .localCheckpoint())
        sigs = dedup.minhash_signatures(kept, "doc_id", "text", a["n_hashes"], a["shingle_n"])
        cands = dedup.lsh_candidate_pairs(sigs, "doc_id", a["bands"])
        verified = {}

        def verify():
            verified["df"] = dedup.minhash_dedup(
                kept, "doc_id", "text", n_hashes=a["n_hashes"], bands=a["bands"],
                shingle_n=a["shingle_n"], threshold=a["jaccard_threshold"])
            noop(verified["df"])

        s_ver = tracer.timed("dedup.verify", verify)
        s_cand = tracer.timed("dedup.candidates", lambda: noop(cands), parent=s_ver)
        s_sig = tracer.timed("dedup.signatures", lambda: noop(sigs), parent=s_cand)
        n_cand = cands.count()
        pairs = verified["df"].toPandas()
        local = self.spark.createDataFrame(pairs, schema=verified["df"].schema)
        s_cc = tracer.timed("dedup.components", lambda: noop(dedup.dedup_groups(local)))
        return {
            "tables.scan_s": s_scan.duration,
            "text.score_s": s_score.duration,
            "dedup.signatures_s": s_sig.duration,
            "dedup.candidates_s": s_cand.duration - s_sig.duration,
            "dedup.verify_s": s_ver.duration - s_cand.duration,
            "dedup.components_s": s_cc.duration,
            "dedup.candidate_pairs": n_cand,
            "dedup.verified_pairs": len(pairs),
            "dedup.verify_yield": ratio(len(pairs), n_cand),
        }


WORKLOADS = {"flagship": Flagship, "curate": Curate}
