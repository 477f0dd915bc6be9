"""Seeded, cached input generation for the benchmark workloads.

Every input is a pure function of (workload, seed, size). A generated input
set lives in ``.bench_work/inputs/<workload>-s<seed>-<size>/`` under the
checkout and is trusted only when its ``_COMPLETE.json`` marker exists: the
set is written into a temporary sibling directory, the marker is written
last, and the directory is renamed into place, so a crash mid-generation
never leaves a directory that looks complete.

Generation runs in its own process before the measured process starts, so
its cost never lands in ``setup_s`` and the measured SparkSession starts
cold. It needs no Spark: image rows come from ``sources.datagen``'s pure row
function (the one ``datagen.generate_images`` maps over ``spark.range``),
documents from numpy, and pyarrow writes the tables.

    python3 perfbench/inputs.py --workload curate --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from common import WORK_DIR, log

MARKER = "_COMPLETE.json"

# Input sizes: about 40 MB and 0.3 MB on disk, far below memory. flagship's size
# is the largest whose runs fit the benchmark's time budget (see WORKLOADS.md).
SIZES = {
    "flagship": {"images": 4096, "labels": 2048, "image_files": 16, "label_files": 4},
    "curate": {"docs": 1000, "dup_share": 0.10, "foreign_share": 0.10, "junk_share": 0.05},
}

TS = pa.timestamp("us", tz="UTC")


def input_dir(workload: str, seed: int) -> str:
    size = SIZES[workload]
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    return os.path.join(WORK_DIR, "inputs", f"{workload}-s{seed}-{tag}")


def load_marker(path: str) -> dict | None:
    try:
        with open(os.path.join(path, MARKER)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def ensure_inputs(workload: str, seed: int) -> tuple[str, dict]:
    """Return (directory, marker) of the complete input set, generating it
    first when no complete set is cached."""
    final = input_dir(workload, seed)
    marker = load_marker(final)
    if marker is not None:
        return final, marker
    if os.path.exists(final):  # no marker: a set some crash left behind
        shutil.rmtree(final)
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        t0 = time.perf_counter()
        info = GENERATORS[workload](tmp, seed)
        info.update(workload=workload, seed=seed, size=SIZES[workload],
                    generation_s=time.perf_counter() - t0)
        with open(os.path.join(tmp, MARKER), "w") as f:
            json.dump(info, f)
        os.rename(tmp, final)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return final, info


def _write_files(table: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))


# --------------------------------------------------------------------------
# flagship: sources.datagen image + label tables, many-file layout
# --------------------------------------------------------------------------

def _image_rows(args: tuple[int, int, int, int]) -> list[tuple]:
    from video_features_spark.sources.datagen import _row

    seed, lo, hi, n_entities = args
    return [_row(seed, rid, n_entities, 0.10) for rid in range(lo, hi)]


def _gen_flagship(out: str, seed: int) -> dict:
    """datagen's image and label tables (images spread over many files)."""
    import multiprocessing as mp

    from video_features_spark.sources.datagen import _label_row

    size = SIZES["flagship"]
    n, n_labels = size["images"], size["labels"]
    n_entities = max(n // 50, 1)  # datagen's default: 50 images per entity
    chunks = [(seed, lo, min(lo + 256, n), n_entities) for lo in range(0, n, 256)]
    with mp.get_context("spawn").Pool(min(4, os.cpu_count() or 1)) as pool:
        rows = [r for part in pool.map(_image_rows, chunks) for r in part]
    cols = list(zip(*rows))
    ts_us = [t.value // 1000 for t in cols[2]]  # naive datagen timestamps are UTC
    images = pa.table({
        "image_id": pa.array(cols[0], pa.string()),
        "entity_id": pa.array(cols[1], pa.string()),
        "ts": pa.array(ts_us, TS),
        "bytes": pa.array([bytes(b) for b in cols[3]], pa.binary()),
        "w": pa.array(cols[4], pa.int32()),
        "h": pa.array(cols[5], pa.int32()),
        "fmt": pa.array(cols[6], pa.string()),
        "caption": pa.array(cols[7], pa.string()),
        "phash": pa.array(cols[8], pa.int64()),
    })
    labels = [_label_row(seed, rid, n_entities) for rid in range(n_labels)]
    lcols = list(zip(*labels))
    label_tab = pa.table({
        "entity_id": pa.array(lcols[0], pa.string()),
        "label_ts": pa.array([t.value // 1000 for t in lcols[1]], TS),
        "label": pa.array(lcols[2], pa.float64()),
    })
    _write_files(images, os.path.join(out, "images"), size["image_files"])
    _write_files(label_tab, os.path.join(out, "labels"), size["label_files"])
    img = images.select(["entity_id", "ts", "phash"]).to_pandas()
    lab = label_tab.to_pandas()
    ties = lab.merge(img, left_on=["entity_id", "label_ts"], right_on=["entity_id", "ts"])
    return {
        "images": n, "labels": n_labels, "entities": n_entities,
        "image_bytes": int(pc.sum(pc.binary_length(images["bytes"])).as_py()),
        "hot_phash_share": float(img["phash"].value_counts().iloc[:2].sum() / n),
        "tie_label_share": len(ties) / n_labels,
        "absent_entity_label_share": float((~lab["entity_id"].isin(img["entity_id"])).mean()),
    }


# --------------------------------------------------------------------------
# curate: one single-row-group document file with planted near-duplicates
# --------------------------------------------------------------------------

_EN = ("the of and to in is that it was for on are with as his they be at one have "
       "this from or had by word but what some we can out other were all there when "
       "up use your how said an each she which do their time if will way about many "
       "then them write would like so these her long make thing see him two has look "
       "more day could go come did number sound no most people my over know water than "
       "call first who may down side been now find any new work part take get place "
       "made live where after back little only round man year came show every good me "
       "give our under name very through just form sentence great think say help low "
       "line differ turn cause much mean before move right boy old too same tell does "
       "set three want air well also play small end put home read hand port large spell "
       "add even land here must big high such follow act why ask men change went light "
       "kind off need house picture try us again animal point mother world near build "
       "self earth father head stand own page should country found answer school grow "
       "study still learn plant cover food sun four between state keep eye never last").split()
_ES = ("de la que el en los se del las por un para con una su al lo como más pero sus "
       "le ya este sí porque esta entre cuando muy sin sobre también me hasta hay donde "
       "quien desde todo nos durante todos uno les ni contra otros ese eso ante ellos "
       "esto antes algunos qué unos yo otro otras otra tanto esa estos mucho quienes "
       "nada muchos cual poco ella estar estas algunas algo nosotros").split()


def _lang(text: str) -> str:
    """``text.langid_ngram``'s prediction, computed the same way in Python:
    the language whose profile holds most of the distinct lowercase
    trigrams, ties to the first language in name order."""
    from video_features_spark.operators.text import TRIGRAM_PROFILES

    t = text.lower()
    grams = {t[i:i + 3] for i in range(len(t) - 2)}
    scores = {lang: len(grams.intersection(p)) for lang, p in sorted(TRIGRAM_PROFILES.items())}
    return max(scores, key=scores.get)


def _doc(rng: np.random.Generator, vocab: list[str], english: bool) -> str:
    """A random document of 40-90 words, redrawn until the language gate
    classifies it as intended, so the share that passes is known exactly."""
    while True:
        text = " ".join(vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(40, 90))))
        if (_lang(text) == "en") == english:
            return text


def _gen_curate(out: str, seed: int) -> dict:
    """English documents, planted one-word-edit copies of some of them,
    Spanish documents and shouting junk, in one single-row-group file."""
    size = SIZES["curate"]
    rng = np.random.default_rng([seed, 11])
    n = size["docs"]
    n_dup = int(n * size["dup_share"])
    n_foreign = int(n * size["foreign_share"])
    n_junk = int(n * size["junk_share"])
    n_en = n - n_dup - n_foreign - n_junk
    texts = [_doc(rng, _EN, True) for _ in range(n_en)]
    kinds = ["en"] * n_en
    sources = rng.choice(n_en, n_dup, replace=False)
    dup_of = {}
    for src in sources:
        words = texts[src].split()
        while True:
            copy = list(words)
            copy[int(rng.integers(0, len(copy)))] = _EN[int(rng.integers(0, len(_EN)))]
            if _lang(" ".join(copy)) == "en":
                break
        dup_of[len(texts)] = int(src)
        texts.append(" ".join(copy))
        kinds.append("dup")
    texts += [_doc(rng, _ES, False) for _ in range(n_foreign)]
    kinds += ["foreign"] * n_foreign
    texts += ["BUY NOW!!! " * int(rng.integers(1, 4)) for _ in range(n_junk)]
    kinds += ["junk"] * n_junk
    # shuffle so a planted copy's id is as likely below its source's as above
    order = rng.permutation(n)
    ids = np.empty(n, dtype=object)
    ids[order] = [f"d{i:06d}" for i in range(n)]
    docs = pa.table({
        "doc_id": pa.array(ids.tolist(), pa.string()),
        "text": pa.array(texts, pa.string()),
    }).take(pa.array(np.argsort(order)))
    pq.write_table(docs, os.path.join(out, "documents.parquet"), row_group_size=n)
    pairs = [[ids[d], ids[s]] for d, s in dup_of.items()]
    return {"docs": n, "planted_pairs": pairs, "expected_survivors": n_en,
            "foreign_ids": [ids[i] for i, k in enumerate(kinds) if k == "foreign"],
            "junk_ids": [ids[i] for i, k in enumerate(kinds) if k == "junk"]}


GENERATORS = {
    "flagship": _gen_flagship,
    "curate": _gen_curate,
}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)
    path, marker = ensure_inputs(args.workload, args.seed)
    log(f"inputs {args.workload} seed={args.seed}: {path} "
        f"(generated in {marker['generation_s']:.2f} s)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
