"""Byte-pair-encoding tokenizer (CLIP-tokenizer semantics), pure Python/numpy.

Implements the reference tokenizer's *algorithm* faithfully —
``/root/reference/models/clip/clip_src/simple_tokenizer.py:62-127`` (byte→unicode
table, regex word split, greedy lowest-rank pair merging, ``</w>`` end-of-word
marker) and the framing contract of ``clip_src/clip.py:200-240`` (SOT/EOT
tokens, fixed context length 77, optional truncation, zero padding) — but NOT
its vocabulary: the reference ships a 16 MB gzip merge table
(``bpe_simple_vocab_16e6.txt.gz``) we neither have nor copy. Instead the merge
table is *trained deterministically* at first use from a seeded corpus (classic
BPE training: repeatedly merge the most frequent adjacent pair; ties broken
lexicographically, so the table is reproducible bit-for-bit on every executor).
The real CLIP vocabulary drops in via ``register_vocab`` (SparkFiles + SHA256):
registered files are parsed with the reference's own slice (``CLIP_MAX_MERGES``)
and encoded with the reference's 0-based id layout, so the real file reproduces
CLIP token ids exactly; ``write_fixture_vocab`` emits a same-format fixture.

Tokenization is per-row CPU work with no cross-row state — exactly the shape
for an Arrow-batched pandas UDF; the vocab is built once per executor process
(same caching pattern as the embedding weights in ``embed.py``).
"""

from __future__ import annotations

import re
from functools import lru_cache

from .embed import clean_caption

SOT = "<|startoftext|>"
EOT = "<|endoftext|>"
CONTEXT_LENGTH = 77  # reference clip.py:204 default

# reference simple_tokenizer.py:75: the word-split regex (contractions, letter
# runs, digit singles, other-symbol runs), minus the unavailable \p classes —
# re module has no \p{L}; [a-zA-Z] covers the deterministic synthetic corpus
# and any ASCII text; non-ASCII letters fall into the "other" class and still
# round-trip through the byte encoding.
_PAT = re.compile(
    r"<\|startoftext\|>|<\|endoftext\|>|'s|'t|'re|'ve|'m|'ll|'d"
    r"|[a-zA-Z]+|[0-9]|[^\sa-zA-Z0-9]+"
)


@lru_cache(maxsize=1)
def bytes_to_unicode() -> dict[int, str]:
    """Reversible byte→printable-unicode map (GPT-2/CLIP construction:
    printable ranges map to themselves, the rest shift past 255)."""
    bs = list(range(ord("!"), ord("~") + 1)) + list(range(0xA1, 0xAD)) + list(range(0xAE, 0x100))
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, (chr(c) for c in cs)))


# deterministic training corpus: weighted word list (same vocabulary the
# synthetic caption generator draws from, plus generic filler) — seeded, fixed
_TRAIN_WORDS = (
    ("a", 50), ("the", 40), ("of", 30), ("photo", 25), ("on", 20), ("in", 20),
    ("cat", 12), ("dog", 12), ("sunset", 10), ("mountain", 10), ("lake", 10),
    ("snow", 8), ("city", 8), ("night", 8), ("lights", 8), ("portrait", 6),
    ("old", 6), ("man", 6), ("reading", 6), ("book", 6), ("children", 6),
    ("playing", 6), ("beach", 6), ("red", 6), ("bicycle", 6), ("wall", 6),
    ("forest", 5), ("path", 5), ("autumn", 5), ("leaves", 5), ("coffee", 5),
    ("cup", 5), ("rain", 5), ("window", 5), ("street", 5), ("market", 5),
    ("fruit", 5), ("vendor", 5), ("dancing", 4), ("festival", 4), ("car", 4),
    ("parked", 4), ("near", 4), ("fresh", 4), ("bread", 4), ("wooden", 4),
    ("table", 4), ("lighthouse", 4), ("storm", 4), ("waves", 4), ("garden", 4),
    ("tulips", 4), ("running", 3), ("jumping", 3), ("standing", 3), ("walking", 3),
    ("looking", 3), ("holding", 3), ("wearing", 3), ("sitting", 3), ("under", 3),
    ("over", 3), ("with", 3), ("and", 3), ("black", 3), ("white", 3), ("green", 3),
    ("blue", 3), ("yellow", 3), ("small", 3), ("large", 3),
)
_N_MERGES = 512


@lru_cache(maxsize=1)
def _merges() -> dict[tuple[str, str], int]:
    """Train the merge table (classic BPE, deterministic): start from single
    characters with a ``</w>`` marker on the final one, repeatedly merge the
    globally most frequent adjacent symbol pair (ties → lexicographic)."""
    vocab: dict[tuple[str, ...], int] = {}
    for word, freq in _TRAIN_WORDS:
        sym = tuple(word[:-1]) + (word[-1] + "</w>",)
        vocab[sym] = vocab.get(sym, 0) + freq
    merges: dict[tuple[str, str], int] = {}
    for rank in range(_N_MERGES):
        pairs: dict[tuple[str, str], int] = {}
        for sym, freq in vocab.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] = pairs.get((sym[i], sym[i + 1]), 0) + freq
        if not pairs:
            break
        # deterministic tie-break: highest count, then lexicographically smallest
        best_count = max(pairs.values())
        best = min(p for p, c in pairs.items() if c == best_count)
        merges[best] = rank
        new_vocab: dict[tuple[str, ...], int] = {}
        for sym, freq in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(sym):
                if i < len(sym) - 1 and (sym[i], sym[i + 1]) == best:
                    out.append(sym[i] + sym[i + 1])
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + freq
        vocab = new_vocab
    return merges


def _build_encoder(merges: dict[tuple[str, str], int]) -> dict[str, int]:
    """token string → id. Layout (stable): 0 = pad, 1..256 = byte alphabet,
    257.. = merged tokens in rank order, then the two specials."""
    byte_syms = sorted(bytes_to_unicode().values())
    toks = [s + "</w>" for s in byte_syms] + byte_syms
    for (a, b) in sorted(merges, key=merges.get):
        toks.append(a + b)
    enc = {t: i + 1 for i, t in enumerate(toks)}
    enc[SOT] = len(enc) + 1
    enc[EOT] = len(enc) + 1
    return enc


@lru_cache(maxsize=1)
def _encoder() -> dict[str, int]:
    return _build_encoder(_merges())


# ---- external vocab seam (P19 → real CLIP drop-in) -------------------------
# Driver-side pin: (SparkFiles name, sha256). Operators capture it in their
# UDF closure at plan-build time (same pattern as embed._CHECKPOINTS);
# executors resolve the file locally via SparkFiles.get and verify the digest.
_VOCAB_PIN: "tuple[str, str] | None" = None

# the reference tokenizer loads bpe_simple_vocab_16e6.txt.gz and slices
# merges[1:49152-256-2+1] (simple_tokenizer.py:62-66) = 48894 merges — the
# literal expression from its source; the resulting encoder then holds
# 256 byte tokens + 256 `</w>` byte tokens + 48894 merges + 2 specials =
# 49408 ids (CLIP's actual vocab size; EOT = id 49407). External vocabs are
# capped at the same merge count so registering the real file yields the
# reference's exact merge table (not extras past the slice).
CLIP_MAX_MERGES = 49152 - 256 - 2

# driver-local file resolution for registered vocabs: register_vocab records
# the absolute path here so driver-side tokenize (oracles, tests) never
# depends on SparkFiles; executors fall through to SparkFiles.get.
_LOCAL_VOCAB_PATHS: dict[str, str] = {}


def register_vocab(spark, path: str, sha256: str | None = None) -> str:
    """Distribute a REAL merge table (the reference ships
    ``bpe_simple_vocab_16e6.txt.gz``, loaded at ``simple_tokenizer.py:62-75``)
    to every executor via ``SparkContext.addFile`` and pin its SHA256 — the
    same distribution/integrity mechanism as the model weights
    (``embed.register_checkpoint``, ``clip_src/clip.py:45-74`` analog). File
    format: optional gzip; first line a version header; then one space-
    separated merge pair per line in rank order, capped at ``CLIP_MAX_MERGES``
    (the reference's own slice). Registered vocabularies use the reference's
    0-based encoder layout (bytes, then ``</w>`` bytes, then merges, then the
    two specials — ``simple_tokenizer.py:67-74``), so registering the real
    ``bpe_simple_vocab_16e6.txt.gz`` reproduces the reference's token ids
    exactly; without a registration the deterministic trained table applies
    (same merge ALGORITHM, library-private id layout)."""
    import hashlib
    import os

    global _VOCAB_PIN
    with open(path, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    if sha256 is not None and digest != sha256:
        raise ValueError(f"vocab {path}: sha256 {digest} != expected {sha256}")
    spark.sparkContext.addFile(path)
    _LOCAL_VOCAB_PATHS[os.path.basename(path)] = os.path.abspath(path)
    _VOCAB_PIN = (os.path.basename(path), digest)
    return digest


def use_local_vocab_file(filename: str, path: str) -> None:
    """Resolve ``filename`` to a local path instead of SparkFiles — the seam
    oracle/test processes (no SparkContext) use to run the registered-vocab
    code path on a file they wrote themselves."""
    import os

    _LOCAL_VOCAB_PATHS[filename] = os.path.abspath(path)


def unregister_vocab() -> None:
    global _VOCAB_PIN
    _VOCAB_PIN = None


def current_vocab_pin() -> "tuple[str, str] | None":
    return _VOCAB_PIN


def _build_encoder_clip(merges: dict[tuple[str, str], int]) -> dict[str, int]:
    """The REFERENCE's encoder layout (simple_tokenizer.py:67-74), 0-based:
    256 byte symbols in byte→unicode construction order, then their ``</w>``
    variants, then merged tokens in rank order, then SOT and EOT. With the
    real merges file this reproduces CLIP's token ids bit-for-bit (id 0 is
    ``'!'``; zero-padding matches CLIP's ``torch.zeros`` framing)."""
    vocab = list(bytes_to_unicode().values())
    vocab = vocab + [v + "</w>" for v in vocab]
    for (a, b) in sorted(merges, key=merges.get):
        vocab.append(a + b)
    vocab.extend([SOT, EOT])
    return {t: i for i, t in enumerate(vocab)}


class _Vocab:
    """Merge table + encoder + per-vocab word cache (the lru-cached module
    functions below stay bound to the default deterministic table). External
    (registered) vocabularies build the CLIP-layout encoder; the trained
    default keeps the library-private layout (0 = dedicated pad)."""

    def __init__(self, merges: dict[tuple[str, str], int], clip_layout: bool = False):
        self.merges = merges
        self.encoder = _build_encoder_clip(merges) if clip_layout else _build_encoder(merges)
        self._words: dict[str, tuple[str, ...]] = {}

    def bpe_word(self, token: str) -> tuple[str, ...]:
        hit = self._words.get(token)
        if hit is None:
            if len(self._words) >= 65536:  # same bound as the default path's
                self._words.clear()        # lru_cache; high-card text must
            hit = self._words[token] = _merge_word(token, self.merges)  # not OOM executors
        return hit


@lru_cache(maxsize=4)
def _vocab_for(pin: "tuple[str, str] | None") -> _Vocab:
    if pin is None:
        return _Vocab(_merges())
    filename, sha = pin
    import gzip
    import hashlib
    import os

    path = _LOCAL_VOCAB_PATHS.get(filename)
    if path is None or not os.path.exists(path):
        path = filename
        if not os.path.exists(path):
            from pyspark import SparkFiles

            path = SparkFiles.get(filename)
    with open(path, "rb") as f:
        raw = f.read()
    digest = hashlib.sha256(raw).hexdigest()
    if digest != sha:
        raise ValueError(f"vocab {filename}: sha256 {digest} != pinned {sha}")
    if raw[:2] == b"\x1f\x8b":
        raw = gzip.decompress(raw)
    lines = raw.decode("utf-8").split("\n")[1:]  # first line = version header
    merges: dict[tuple[str, str], int] = {}
    for line in lines:
        # the reference slices merges[1:49152-256-2+1]; parsing past that cap
        # would change segmentations vs the file's published vocabulary
        if len(merges) >= CLIP_MAX_MERGES:
            break
        parts = tuple(line.split())
        if len(parts) == 2:
            merges[parts] = len(merges)
    if not merges:
        raise ValueError(f"vocab {filename}: no merge pairs parsed")
    return _Vocab(merges, clip_layout=True)


@lru_cache(maxsize=65536)
def _bpe_word(token: str) -> tuple[str, ...]:
    """Greedy merge over the default deterministic table."""
    return _merge_word(token, _merges())


def _merge_word(token: str, merges: dict[tuple[str, str], int]) -> tuple[str, ...]:
    """Greedy merge loop (reference simple_tokenizer.py:85-113): repeatedly
    merge the adjacent pair with the lowest merge rank until none applies."""
    word: tuple[str, ...] = tuple(token[:-1]) + (token[-1] + "</w>",)
    while len(word) > 1:
        pairs = {(word[i], word[i + 1]) for i in range(len(word) - 1)}
        ranked = [(merges[p], p) for p in pairs if p in merges]
        if not ranked:
            break
        _, bigram = min(ranked)
        out: list[str] = []
        i = 0
        while i < len(word):
            if i < len(word) - 1 and (word[i], word[i + 1]) == bigram:
                out.append(word[i] + word[i + 1])
                i += 2
            else:
                out.append(word[i])
                i += 1
        word = tuple(out)
    return word


def encode(text: str, vocab_pin: "tuple[str, str] | None" = None) -> list[int]:
    """Text → BPE ids (no framing). Cleanup mirrors the reference
    (simple_tokenizer.py:123: whitespace-collapse + lowercase before split).
    ``vocab_pin`` selects a registered external merge table (see
    ``register_vocab``); None = the deterministic trained one."""
    b2u = bytes_to_unicode()
    if vocab_pin is None:
        enc, bpe_word = _encoder(), _bpe_word
    else:
        v = _vocab_for(vocab_pin)
        enc, bpe_word = v.encoder, v.bpe_word
    ids: list[int] = []
    for tok in _PAT.findall(clean_caption(text)):
        mapped = "".join(b2u[b] for b in tok.encode("utf-8"))
        ids.extend(enc[piece] for piece in bpe_word(mapped) if piece in enc)
    return ids


def write_fixture_vocab(path: str, n_merges: int | None = None) -> None:
    """Serialize the deterministic trained merge table in the reference
    vocab-file format (``bpe_simple_vocab_16e6.txt.gz``: gzip, one version-
    header line, one space-separated merge pair per line in rank order) — the
    end-to-end fixture for ``register_vocab``; the real 16 MB file drops in
    with no code change. Gzip mtime pinned to 0 so the bytes (and the SHA256
    pin) are reproducible across processes."""
    import gzip

    pairs = sorted(_merges(), key=_merges().get)
    if n_merges is not None:
        pairs = pairs[:n_merges]
    body = "#version: vfs-fixture-0.1\n" + "\n".join(f"{a} {b}" for a, b in pairs)
    with open(path, "wb") as f:
        # filename="" and mtime=0: the gzip header would otherwise embed the
        # target path + current time and break byte-reproducibility
        with gzip.GzipFile(filename="", fileobj=f, mode="wb", mtime=0) as gz:
            gz.write(body.encode("utf-8"))


def tokenize(
    texts: list[str | None],
    context_length: int = CONTEXT_LENGTH,
    truncate: bool = True,
    vocab_pin: "tuple[str, str] | None" = None,
) -> list[list[int]]:
    """Reference ``clip.tokenize`` contract (clip_src/clip.py:200-240):
    ``[SOT] + bpe(text) + [EOT]`` zero-padded to ``context_length``; overlong
    inputs are truncated (EOT kept as the final token) when ``truncate`` else
    raise. Nulls tokenize as the empty string."""
    enc = _encoder() if vocab_pin is None else _vocab_for(vocab_pin).encoder
    sot, eot = enc[SOT], enc[EOT]
    out: list[list[int]] = []
    for t in texts:
        ids = [sot] + encode(t or "", vocab_pin) + [eot]
        if len(ids) > context_length:
            if not truncate:
                raise ValueError(f"input too long for context length {context_length}")
            ids = ids[: context_length - 1] + [eot]
        out.append(ids + [0] * (context_length - len(ids)))
    return out
