"""BPE tokenizer gates: algorithm invariants (merge greediness, framing,
round-trip) + the Spark operator. Mirrors the contracts of the reference
tokenizer (/root/reference/models/clip/clip_src/simple_tokenizer.py:62-127 and
clip_src/clip.py:200-240) without its vocabulary file."""

import numpy as np
import pytest

from video_features_spark.functions.bpe import (
    CONTEXT_LENGTH,
    EOT,
    SOT,
    _bpe_word,
    _encoder,
    _merges,
    bytes_to_unicode,
    encode,
    tokenize,
)


def test_bytes_to_unicode_reversible():
    m = bytes_to_unicode()
    assert len(m) == 256
    assert len(set(m.values())) == 256  # bijective


def test_merge_table_deterministic_and_nonempty():
    m1 = dict(_merges())
    _merges.cache_clear()
    m2 = dict(_merges())
    assert m1 == m2 and len(m1) >= 100
    # ranks are a permutation of 0..n-1
    assert sorted(m1.values()) == list(range(len(m1)))


def test_common_word_merges_to_single_token():
    # high-frequency training words collapse fully
    assert _bpe_word("the") == ("the</w>",)
    assert _bpe_word("photo") == ("photo</w>",)


def test_unknown_word_splits_but_encodes():
    ids = encode("zyxwvut")  # never seen in training
    assert len(ids) >= 2  # falls back toward characters
    assert all(i > 0 for i in ids)


def test_framing_contract():
    enc = _encoder()
    rows = tokenize(["a photo of a cat", None, ""])
    for row in rows:
        assert len(row) == CONTEXT_LENGTH
        assert row[0] == enc[SOT]
        body = [t for t in row if t != 0]
        assert body[-1] == enc[EOT]
    assert rows[1] == rows[2]  # null ≡ empty string


def test_truncation_keeps_eot():
    enc = _encoder()
    long = "cat " * 200
    row = tokenize([long], truncate=True)[0]
    assert len(row) == CONTEXT_LENGTH and row[-1] == enc[EOT]
    with pytest.raises(ValueError):
        tokenize([long], truncate=False)


def test_ids_in_vocab_range():
    rows = tokenize(["children playing on the beach &amp; dog"])
    arr = np.array(rows)
    assert arr.min() >= 0 and arr.max() <= len(_encoder())  # ids are 1-based, 0 pads


def test_spark_operator_matches_local(spark):
    from video_features_spark.operators.features import caption_bpe_tokenize

    caps = ["a photo of a cat", "sunset over the lake", None, "naïve café 🌊"]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(caps)], "id int, caption string")
    got = {r["id"]: r["token_ids"] for r in caption_bpe_tokenize(df).collect()}
    ref = tokenize(caps)
    for i, c in enumerate(caps):
        assert got[i] == ref[i], f"row {i} mismatch"


def test_external_vocab_seam_end_to_end(spark):
    """P19 drop-in seam: a tiny fixture merge table in the reference's file
    format (gzip, version header line, space-separated rank-ordered pairs)
    registers via SparkFiles+SHA256 and drives caption_bpe_tokenize end to
    end; ids change vs the deterministic table exactly where the fixture's
    merges apply, and a wrong digest is rejected."""
    import gzip
    import tempfile

    import pytest
    from pyspark.sql import functions as F

    from video_features_spark.functions.bpe import (
        current_vocab_pin,
        register_vocab,
        tokenize,
        unregister_vocab,
    )
    from video_features_spark.operators.features import caption_bpe_tokenize

    # "cat</w>" merges fully: c+a -> ca, ca+t</w> -> cat</w>
    fixture = "#version: test-fixture\nc a\nca t</w>\n"
    with tempfile.NamedTemporaryFile(
        suffix=".txt.gz", delete=False, prefix="bpe_fixture_"
    ) as tf:
        tf.write(gzip.compress(fixture.encode()))
        path = tf.name
    try:
        with pytest.raises(ValueError, match="sha256"):
            register_vocab(spark, path, sha256="0" * 64)
        digest = register_vocab(spark, path)
        assert current_vocab_pin() == (path.split("/")[-1], digest)

        df = spark.createDataFrame([("a photo of a cat",)], "caption string")
        row = caption_bpe_tokenize(df).select("token_ids").first()
        ids_spark = [t for t in row["token_ids"] if t != 0]
        ids_local = [t for t in tokenize(
            ["a photo of a cat"], vocab_pin=current_vocab_pin()
        )[0] if t != 0]
        assert ids_spark == ids_local  # executor resolves the same pinned file
        ids_default = [t for t in tokenize(["a photo of a cat"])[0] if t != 0]
        assert ids_spark != ids_default  # the external vocabulary took effect
        # fixture vocab has only 2 merges -> "photo" stays byte-level (6 ids),
        # "cat" collapses to one merged token
        assert len(ids_spark) > len(ids_default)
    finally:
        unregister_vocab()


def test_external_vocab_clip_layout_and_merge_cap(tmp_path):
    """Registered vocabs must reproduce the REFERENCE's encoder exactly
    (simple_tokenizer.py:62-74): merges sliced at 49152-256-2 = 48894, ids
    0-based with byte symbols first (construction order, not sorted), then
    their </w> variants, then merges in rank order, then SOT/EOT."""
    import gzip
    import hashlib

    from video_features_spark.functions.bpe import (
        CLIP_MAX_MERGES,
        EOT,
        SOT,
        _vocab_for,
        bytes_to_unicode,
        use_local_vocab_file,
    )

    assert CLIP_MAX_MERGES == 48894
    # a file with MORE lines than the cap: pad with unreachable junk merges
    real = ["c a", "ca t</w>"]
    junk = [f"x{i} y{i}" for i in range(CLIP_MAX_MERGES + 10)]
    body = "#version: cap-test\n" + "\n".join(real + junk)
    path = tmp_path / "cap_vocab.txt.gz"
    path.write_bytes(gzip.compress(body.encode()))
    digest = hashlib.sha256(path.read_bytes()).hexdigest()
    use_local_vocab_file("cap_vocab.txt.gz", str(path))
    v = _vocab_for(("cap_vocab.txt.gz", digest))
    assert len(v.merges) == CLIP_MAX_MERGES  # parsed exactly the CLIP slice
    assert ("c", "a") in v.merges and v.merges[("c", "a")] == 0
    # CLIP id layout: byte alphabet in construction order at 0..255,
    # word-final variants at 256..511, merges from 512, specials last
    b2u = list(bytes_to_unicode().values())
    enc = v.encoder
    assert enc[b2u[0]] == 0 and enc[b2u[255]] == 255
    assert enc[b2u[0] + "</w>"] == 256
    assert enc["ca"] == 512  # rank-0 merge
    assert enc[SOT] == len(enc) - 2 and enc[EOT] == len(enc) - 1


def test_write_fixture_vocab_reference_format_roundtrip(tmp_path):
    """The fixture writer emits the reference file format deterministically;
    loading it back through the external-vocab parser yields the SAME merge
    table the library trained (only the id layout differs)."""
    import hashlib

    from video_features_spark.functions.bpe import (
        _merges,
        _vocab_for,
        use_local_vocab_file,
        write_fixture_vocab,
    )

    p1, p2 = tmp_path / "v1.txt.gz", tmp_path / "v2.txt.gz"
    write_fixture_vocab(str(p1))
    write_fixture_vocab(str(p2))
    assert p1.read_bytes() == p2.read_bytes()  # byte-reproducible (pin-stable)
    digest = hashlib.sha256(p1.read_bytes()).hexdigest()
    use_local_vocab_file("v1.txt.gz", str(p1))
    v = _vocab_for(("v1.txt.gz", digest))
    assert v.merges == _merges()
