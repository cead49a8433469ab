"""Text-analysis operators: stats, quality, language ID, fingerprints."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from character_identification_spark.operators.textstats import (
    bpe_ish_token_count,
    fingerprint,
    language_id,
    text_stats,
    token_count,
)


def test_token_counts(spark):
    df = spark.createDataFrame(
        [("one two  three",), ("single",)], "text string"
    )
    out = [r["n"] for r in df.select(token_count("text").alias("n")).collect()]
    assert out == [3, 1]
    out2 = [r["n"] for r in df.select(bpe_ish_token_count("text").alias("n")).collect()]
    assert out2 == [3, 1]


def test_bpe_ish_splits_mixed_runs(spark):
    df = spark.createDataFrame([("abc123, def!",)], "text string")
    (row,) = df.select(bpe_ish_token_count("text").alias("n")).collect()
    # abc | 123 | , | def | ! → 5 pieces
    assert row["n"] == 5


def test_text_stats_values(spark):
    df = spark.createDataFrame([(1, "the cat sat on the mat")], "doc_id long, text string")
    (row,) = text_stats(df).collect()
    assert row["n_chars"] == 22
    assert row["n_tokens"] == 6
    assert row["punct_ratio"] == 0.0
    assert row["uniq_token_ratio"] == pytest.approx(5 / 6, abs=1e-6)
    # 'the' twice, 'on' not a stopword in our list → 2/6
    assert row["stopword_ratio"] == pytest.approx(2 / 6, abs=1e-6)
    assert 0.0 <= row["quality"] <= 1.0


# document 69 of the seeded contract tables at seed 314: its quality lands
# on a half-way sixth decimal, where Spark's F.round (0.862328) and DuckDB's
# round (0.862329) used to part
_HALF_WAY_DOC = (
    "part part vector row the scan stream big row the part small agg the line "
    "slow order the big column spark a group a a window the spark value slow "
    "merge batch key scan fast agg order row big join vector row line fast "
    "batch line fast data sort scan sort small customer filter hash key big "
    "join column the fast row small query vector data customer row scan "
    "window the vector line"
)


def test_text_stats_rounding_matches_oracle_at_half_way(spark):
    import duckdb

    from character_identification_spark.oracles import SQL_TEXT_STATS

    docs = spark.createDataFrame([(69, _HALF_WAY_DOC)], "doc_id long, text string")
    got = text_stats(docs).collect()[0].asDict()
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE documents AS SELECT 69::BIGINT AS doc_id, ?::VARCHAR AS text",
            [_HALF_WAY_DOC],
        )
        rel = con.sql(SQL_TEXT_STATS)
        want = dict(zip(rel.columns, rel.fetchone()))
    finally:
        con.close()
    assert got == want
    assert got["quality"] == 0.862329


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is warm"),
            (2, "der hund ist nicht auf der wiese und das ist gut"),
            (3, "le chat est dans la maison et il est content"),
            (4, "xyzzy plugh qwerty"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["lang_pred"] for r in language_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_fingerprints(spark):
    a = "The quick brown fox jumps over the lazy dog today"
    b = "the  QUICK brown fox, jumps over the lazy dog today"  # case/punct
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    out = {r["doc_id"]: r for r in fingerprint(df).collect()}
    assert out[1]["fp_exact"] != out[2]["fp_exact"]
    assert out[1]["fp_norm"] == out[2]["fp_norm"]
    assert out[1]["fp_shingle"] == out[2]["fp_shingle"]


def test_lm_score_semantics(spark):
    """Char-trigram self-LM (lm_score): hand-checkable counts on a tiny
    corpus; sub-3-char docs score NULL with zero grams; repeated
    (typical) content outscores one-off noise."""
    import math

    from character_identification_spark.operators.textstats import lm_score

    docs = spark.createDataFrame(
        [(1, "ababa"), (2, "ababa"), (3, "xyz"), (4, "ab")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in lm_score(docs).collect()}
    # corpus grams: doc1/doc2 each {aba, bab, aba} (3 grams), doc3 {xyz}
    # → counts: aba=4, bab=2, xyz=1, total=7
    t = 7.0
    exp1 = round((math.log(4 / t) + math.log(2 / t) + math.log(4 / t)) / 3, 6)
    assert out[1]["n_grams"] == 3 and abs(out[1]["lm_score"] - exp1) < 1e-9
    assert out[2]["lm_score"] == out[1]["lm_score"]
    assert out[3]["n_grams"] == 1
    assert abs(out[3]["lm_score"] - round(math.log(1 / t), 6)) < 1e-9
    # typical content scores higher than the one-off
    assert out[1]["lm_score"] > out[3]["lm_score"]
    # sub-3-char doc: zero grams, NULL score (not a crash, not -inf)
    assert out[4]["n_grams"] == 0 and out[4]["lm_score"] is None


def test_dsir_weights_direction(spark):
    from pyspark.sql import functions as F

    from character_identification_spark.operators.textstats import dsir_weights

    rows = (
        [(i, "alpha beta alpha beta alpha", "tgt") for i in range(5)]
        + [(10 + i, "gamma delta gamma delta gamma", "raw") for i in range(5)]
        + [(20, "alpha beta alpha", "raw"), (21, "gamma delta gamma", "raw")]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {
        r["doc_id"]: r
        for r in dsir_weights(
            docs, target_pred=F.col("source") == "tgt", n_buckets=64, alpha=0.5
        ).collect()
    }
    # 3 unigrams + 2 bigrams
    assert out[20]["n_feats"] == 5
    # the target-vocabulary doc must out-weight the raw-vocabulary doc
    assert out[20]["dsir_logw"] > out[21]["dsir_logw"]
    assert out[20]["dsir_logw"] > 0 > out[21]["dsir_logw"]
    assert out[0]["is_target"] and not out[20]["is_target"]


def test_bpe_pair_counts_known_values(spark):
    from character_identification_spark.operators.textstats import bpe_pair_counts

    docs = spark.createDataFrame(
        [(1, "abab abab cd"), (2, "abab x")], ["doc_id", "text"]
    )
    out = {r["pair"]: r for r in bpe_pair_counts(docs, top_k=10).collect()}
    # 'ab' occurs 2× in each of 3 'abab' occurrences = 6; in 1 word
    assert out["ab"]["n_occurrences"] == 6 and out["ab"]["n_words"] == 1
    assert out["ba"]["n_occurrences"] == 3
    assert out["cd"]["n_occurrences"] == 1
    # single-char words ('x') contribute nothing
    assert "x" not in out
    top = bpe_pair_counts(docs, top_k=1).collect()
    assert top[0]["pair"] == "ab"


def _py_winnow(text: str, k: int = 5, w: int = 4):
    import hashlib

    s = text.strip().lower()
    hs = [
        int(hashlib.md5(s[i : i + k].encode()).hexdigest()[:15], 16)
        for i in range(len(s) - k + 1)
    ]
    if not hs:
        return 0, 0
    sel = {min(hs[j : j + w]) for j in range(max(len(hs) - w + 1, 1))}
    dig = 0
    for x in sel:
        dig ^= x
    return len(sel), dig


def test_winnow_fingerprint_matches_reference_impl(spark):
    from character_identification_spark.operators.textstats import winnow_fingerprint

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "abc"),                       # shorter than k → (0, 0)
        (3, "aaaaaaaaaaa"),               # all-identical grams
        (4, "tiny5"),                     # exactly one gram, fewer than w
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in winnow_fingerprint(docs, k=5, w=4).collect()}
    for did, text in rows:
        n, dig = _py_winnow(text)
        assert (out[did]["n_fingerprints"], out[did]["fp_digest"]) == (n, dig), did


def test_bpe_learn_merges_known_sequence(spark):
    """Hand-traceable corpus ('aaab' ×3, 'aab' ×2): assert the full
    3-round merge table against a manual replay of the Sennrich loop —
    pair counts are per-occurrence ('aaab' counts aa twice), merges
    apply greedily left-to-right, ties break (count desc, pair asc)."""
    from character_identification_spark.operators.textstats import bpe_learn_merges

    docs = spark.createDataFrame(
        [(0, "aaab aaab aab"), (1, "aaab aab")], "doc_id long, text string"
    )
    rows = bpe_learn_merges(docs, n_merges=3).collect()
    got = [(r["step"], r["left_sym"], r["right_sym"], r["merged"],
            r["n_occurrences"]) for r in rows]

    # manual replay: vocab {aaab: 3, aab: 2}
    # r1 pairs: aaab→[aa,aa,ab]·3, aab→[aa,ab]·2 ⇒ aa=3·2+2=8, ab=5 → merge (a,a)
    # apply greedy: aaab→[aa,a,b], aab→[aa,b]
    # r2 pairs: (aa,a)=3, (a,b)=3, (aa,b)=2 ⇒ tie 3: 'a b' < 'aa a' → merge (a,b)
    # apply: aaab→[aa,ab], aab→[aa,b]
    # r3 pairs: (aa,ab)=3, (aa,b)=2 → merge (aa,ab)
    assert got == [
        (1, "a", "a", "aa", 8),
        (2, "a", "b", "ab", 3),
        (3, "aa", "ab", "aaab", 3),
    ]


def test_chunk_documents_windows(spark):
    from character_identification_spark.operators.curation import chunk_documents

    docs = spark.createDataFrame(
        [(0, "t0 t1 t2 t3 t4 t5 t6"), (1, "short doc")],
        "doc_id long, text string",
    )
    out = sorted(
        ((r["doc_id"], r["chunk_id"], r["n_tokens"], r["chunk_text"])
         for r in chunk_documents(docs, chunk_tokens=4, overlap=2).collect())
    )
    # doc 0: stride 2 → starts 0,2,4,6: windows of ≤4 tokens
    assert out == [
        (0, 0, 4, "t0 t1 t2 t3"),
        (0, 1, 4, "t2 t3 t4 t5"),
        (0, 2, 3, "t4 t5 t6"),
        (0, 3, 1, "t6"),
        (1, 0, 2, "short doc"),
    ]
    import pytest as _pt
    with _pt.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_bpe_segment_counts_roundtrip(spark):
    """After merging (a,a), (a,b), (aa,ab): 'aaab'→1 subword, 'aab'→
    [aa,b]→2, single chars→1; n_words = raw whitespace tokens."""
    from character_identification_spark.operators.textstats import bpe_segment_counts

    docs = spark.createDataFrame(
        [(0, "aaab aaab aab"), (1, "aaab aab c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in bpe_segment_counts(docs, n_merges=3).collect()}
    assert (out[0]["n_words"], out[0]["n_subwords"]) == (3, 1 + 1 + 2)
    assert (out[1]["n_words"], out[1]["n_subwords"]) == (3, 1 + 2 + 1)
