"""Text-analysis operators (char-trigram language-ID, quality scoring) vs
DuckDB oracles + semantic gates on crafted inputs."""

from tests.utils import assert_frames_match
from video_features_spark.operators.text import langid_ngram, quality_score


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
    from pyspark.sql import functions as F

    from video_features_spark.operators.text import TRIGRAM_PROFILES

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
