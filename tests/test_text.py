"""Text-analysis operators (char-trigram language-ID, quality scoring) vs
DuckDB oracles + semantic gates on crafted inputs."""

from pyspark.sql import functions as F

from tests.utils import assert_frames_match, py4j_commands
from video_features_spark.operators.text import (
    TRIGRAM_PROFILES,
    char_trigrams,
    langid_ngram,
    quality_score,
)


def test_langid_ngram_vs_oracle(spark, duck, sf_dir):
    import __spark_entry__ as entrymod

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    res = langid_ngram(docs)
    oracle = duck.execute(entrymod.oracle_sql()["langid_ngram"]).df()
    assert_frames_match(res.toPandas(), oracle)


def test_langid_ngram_detects_obvious_languages(spark):
    rows = [
        (1, "the cat and the dog sat on the mat looking at the window of the house"),
        (2, "la casa de la montaña es el lugar en el que queremos estar en verano"),
        (3, "le chien et le chat de la maison que nous avons est un bon compagnon"),
        (4, "xq"),  # shorter than a trigram: all scores 0, deterministic pred
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r for r in langid_ngram(df).collect()}
    assert got[1]["lang_pred"] == "en" and got[1]["ngram_en"] > got[1]["ngram_es"]
    assert got[2]["lang_pred"] == "es"
    assert got[3]["lang_pred"] == "fr"
    assert got[4]["ngram_en"] == 0.0 and got[4]["lang_pred"] == "en"  # tie → first


def test_curate_corpus_vs_oracle(spark, duck, sf_dir):
    import __spark_entry__ as entrymod

    from video_features_spark.operators.text import curate_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    res = curate_corpus(docs, min_quality=0.3, lang="en", jaccard_threshold=0.5)
    oracle = duck.execute(entrymod.oracle_sql()["curate_corpus"]).df()
    assert_frames_match(res.toPandas(), oracle)


def test_curate_corpus_drops_dups_keeps_singletons(spark):
    from video_features_spark.operators.text import curate_corpus

    base = ("the cat and the dog sat on the mat looking at the window of the "
            "house while the rain was falling on the garden all day long")
    rows = [
        (1, base),
        (2, base + " x"),     # near-dup of 1 → dropped (1 survives)
        (3, "the sun was shining over the green hills and the river ran "
            "through the valley where the children were playing games"),
        (4, "!!! ??? ###"),   # fails quality gate
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r["doc_id"] for r in curate_corpus(df, min_quality=0.3, lang="en").collect()}
    assert kept == {1, 3}


def test_quality_score_orders_degenerate_docs(spark):
    rows = [
        (1, "A reasonably long and well formed sentence with ordinary words in it "
            "that keeps going for a while to pass the length gate."),
        (2, "!!! ??? ### $$$ %%%"),          # punctuation soup
        (3, "SHOUTING ALL THE TIME HERE"),   # all caps
        (4, "short"),                        # too short
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    q = {r["doc_id"]: r["quality"] for r in quality_score(df).collect()}
    assert q[1] > q[2] and q[1] > q[3] and q[1] > q[4]
    assert q[2] < 0.1  # punctuation soup is near-zero


def test_winnowing_guarantees_shared_fingerprint_on_copies(spark):
    """The winnowing guarantee: any copied span of length >= w+k-1 chars
    produces at least one shared fingerprint (MOSS §2); unrelated docs of
    disjoint alphabets share none."""
    from video_features_spark.operators.text import winnow_fingerprints

    shared = "the quick brown fox jumps over it"  # 33 chars >= 4+5-1
    df = spark.createDataFrame(
        [
            (1, f"AAA BBB CCC {shared} DDD EEE"),
            (2, f"xxyyzz {shared} qqrrss uuvvww"),
            (3, "0123456789 9876543210 0246813579"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, k=5, w=4)
    rows = fps.collect()
    by_doc = {d: {r["fingerprint"] for r in rows if r["doc_id"] == d} for d in (1, 2, 3)}
    assert by_doc[1] & by_doc[2], "copied span must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    # deterministic across partitionings
    a = sorted((r["doc_id"], r["fingerprint"]) for r in fps.collect())
    b = sorted(
        (r["doc_id"], r["fingerprint"])
        for r in winnow_fingerprints(df.repartition(5), k=5, w=4).collect()
    )
    assert a == b


def test_langid_ngram_edge_cases_match_in_lambda_lowercasing(spark):
    """``langid_ngram`` lowercases each text once, before the trigram lambda.
    Its scores and predictions equal those of the trigrams the in-lambda
    form ``substring(lower(text), i, 3)`` gives, on NULL, "", a 2-character
    text, mixed case, multi-byte UTF-8 and "İSTANBUL" (lowercasing makes it
    one character longer)."""
    texts = [None, "", "Ab", "The CAT and THE Dog", "ÉL Niño está en la CASA de él",
             "naïve café — 日本語のテキスト ✓ ÜBER", "İSTANBUL", "İSTANBUL İN THE rain"]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id int, text string")
    t = "lower(text)"
    in_lambda = F.expr(
        f"if(length({t}) < 3, array(), array_distinct(transform("
        f"sequence(1, length({t}) - 2), i -> substring({t}, i, 3))))"
    )
    grams = {r["doc_id"]: r["g"] for r in df.select("doc_id", in_lambda.alias("g")).collect()}
    assert len(grams[6]) == len("İSTANBUL".lower()) - 2 == 7
    langs = sorted(TRIGRAM_PROFILES)
    got = {r["doc_id"]: r for r in langid_ngram(df).collect()}
    assert sorted(got) == list(range(len(texts)))
    for doc_id, g in grams.items():
        row = got[doc_id]
        if g is None:  # NULL text: NULL scores, no prediction
            assert all(row[f"ngram_{lang}"] is None for lang in langs) and row["lang_pred"] is None
            continue
        want = {
            lang: len(set(g) & set(TRIGRAM_PROFILES[lang])) / max(len(g), 1) for lang in langs
        }
        assert {lang: row[f"ngram_{lang}"] for lang in langs} == want, doc_id
        assert row["lang_pred"] == max(langs, key=lambda lang: (want[lang], -langs.index(lang)))


def test_curate_scores_equal_the_public_scorers_joined(spark, sf_dir, monkeypatch):
    """``curate_corpus`` scores each document in one projection. The table it
    checkpoints holds, row for row, the ``quality``, ``n_words`` and
    ``lang_pred`` of ``quality_score`` joined to ``langid_ngram`` by id, on
    the documents plus a NULL, an empty and a 2-character text."""
    from video_features_spark.operators.text import curate_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    extra = spark.createDataFrame(
        [(10**9, None), (10**9 + 1, ""), (10**9 + 2, "ab")], "doc_id long, text string"
    )
    df = docs.unionByName(extra, allowMissingColumns=True)
    checkpointed = []
    real = type(df).localCheckpoint

    def spy(self, *args, **kwargs):
        checkpointed.append(real(self, *args, **kwargs))
        return checkpointed[-1]

    monkeypatch.setattr(type(df), "localCheckpoint", spy)
    curate_corpus(df)
    monkeypatch.undo()
    cols = ["doc_id", "quality", "n_words", "lang_pred"]
    got = sorted(map(tuple, checkpointed[0].select(cols).collect()))
    want = quality_score(df).join(langid_ngram(df), "doc_id").select(cols)
    assert got == sorted(map(tuple, want.collect()))
    assert len(got) == docs.count() + 3
    assert got[-3][2:] == (None, None)  # NULL text: no word count, no language


def test_langid_build_cost_is_flat_in_profiles_and_escapes_literals(spark, sf_dir):
    """Building ``langid_ngram`` makes the same number of py4j calls with the
    3 default profiles of 20 trigrams as with 12 profiles of 80: the profile
    arrays, the scores and the argmax are SQL text. A profile (and a
    language name) holding ``'`` and ``\\`` scores as the ``F.lit`` form of
    the profiles, kept only here, does."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wide = {f"l{i:02d}": tuple(f"{chr(97 + i)}{j:02d}" for j in range(80)) for i in range(12)}
    counts = {}
    with py4j_commands(spark) as sent:
        langid_ngram(docs)  # first-use lookups are not part of the cost
        for name, profiles in (("default", None), ("wide", wide)):
            sent.clear()
            langid_ngram(docs, profiles=profiles)
            counts[name] = len(sent)
    assert counts["default"] == counts["wide"] < 300, counts

    quoted = ("t's", "'s ", "a\\b", "\\' ", "'''")
    profiles = {"en": TRIGRAM_PROFILES["en"], "it's": quoted}
    texts = [None, "", "it's a\\b test", "It'''S \\' \\\\ and the end", "the cat"]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id int, text string")
    langs = sorted(profiles)
    grams = df.select("doc_id", F.lower("text").alias("__lt")).select(
        "doc_id", char_trigrams("__lt").alias("__g")
    )
    scored = grams.select("doc_id", *[
        (F.size(F.array_intersect("__g", F.array(*[F.lit(g) for g in profiles[lang]])))
         / F.greatest(F.size("__g"), F.lit(1))).alias(f"ngram_{lang}")
        for lang in langs
    ])
    best = F.greatest(*[F.col(f"`ngram_{lang}`") for lang in langs])
    pred = F.lit(None).cast("string")
    for lang in reversed(langs):
        pred = F.when(F.col(f"`ngram_{lang}`") == best, F.lit(lang)).otherwise(pred)
    want = sorted(map(tuple, scored.withColumn("lang_pred", pred).collect()))
    assert sorted(map(tuple, langid_ngram(df, profiles=profiles).collect())) == want
    # (doc_id, ngram_en, ngram_it's, lang_pred): the quoted trigrams match
    assert want[2][2] == 3 / 11 and want[2][3] == "it's"
    assert want[3][2] > 0
