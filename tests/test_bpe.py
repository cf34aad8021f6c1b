"""BPE tokenizer train/encode: textbook behavior, distributed-vs-pure
parity, train/encode consistency, roundtrip, OOV, and plan shape."""

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from coastsat_spark.operators import bpe


CORPUS = [
    (0, "low low low low low lower lower newest newest newest"),
    (1, "newest newest newest widest widest widest"),
    (2, "the newest low widest lower the the"),
    (3, ""),
    (4, None),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def _py_word_counts():
    c = Counter()
    for _, t in CORPUS:
        c.update((t or "").split())
    return c


def test_train_ref_textbook():
    """Sennrich's example: with words low/lower/newest/widest the most
    frequent pair is (e, s) from newest+widest."""
    wc = sorted(_py_word_counts().items(), key=lambda kv: (-kv[1], kv[0]))
    merges = bpe.bpe_train_ref(wc, 3)
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t")  # es+t continues the 'est' suffix
    # merges exhaust gracefully: asking for far more than exist stops early
    tiny = bpe.bpe_train_ref([("ab", 1)], 100)
    assert len(tiny) <= 2  # a+b, ab+</w>


def test_spark_train_matches_ref(docs):
    """The distributed word-count path feeds the trainer exactly what a
    pure-Python Counter would."""
    merges, vocab = bpe.bpe_train(docs, n_merges=8)
    wc = sorted(_py_word_counts().items(), key=lambda kv: (-kv[1], kv[0]))
    assert merges == bpe.bpe_train_ref(wc, 8)
    v = {r["token"]: r["token_id"] for r in vocab.collect()}
    # vocab covers every char + every merged symbol + the EOW marker,
    # with deterministic dense ids
    assert v["</w>"] == 0
    assert sorted(v.values()) == list(range(len(v)))
    for a, b in merges:
        assert a + b in v


def test_encode_roundtrip_and_consistency(docs):
    merges, vocab = bpe.bpe_train(docs, n_merges=8)
    enc = bpe.bpe_encode(docs, merges, vocab).toPandas().set_index("doc_id").sort_index()
    inv = {r["token_id"]: r["token"] for r in vocab.collect()}
    for doc_id, text in CORPUS:
        toks = [inv[i] for i in enc.loc[doc_id, "token_ids"]]
        # every char was seen at training, so decode is exact: concatenate
        # and split at </w>
        words = "".join(toks).split("</w>")[:-1] if toks else []
        assert words == (text or "").split(), doc_id
        assert enc.loc[doc_id, "n_tokens"] == len(toks)
    # a trained word's encoding IS its trained segmentation: 'newest'
    # must come out as the merged 'est' suffix pieces, not raw chars
    segs = bpe.bpe_encode_word("newest", merges)
    assert "est" in "".join(segs) and len(segs) < len("newest") + 1


def test_encode_oov_chars_dropped(docs, spark):
    merges, vocab = bpe.bpe_train(docs, n_merges=4)
    probe = spark.createDataFrame(
        [(0, "low π∆ low"), (1, "πππ")], "doc_id long, text string"
    )
    enc = bpe.bpe_encode(probe, merges, vocab).toPandas().set_index("doc_id")
    inv = {r["token_id"]: r["token"] for r in vocab.collect()}
    # doc 0: the two 'low' words survive; the OOV word contributes only
    # its </w> marker (every other symbol unseen at train time)
    toks0 = "".join(inv[i] for i in enc.loc[0, "token_ids"])
    assert toks0.split("</w>")[:-1] == ["low", "", "low"]
    # doc 1: nothing but the marker
    assert [inv[i] for i in enc.loc[1, "token_ids"]] == ["</w>"]


def test_encode_matches_reference(docs, spark):
    """The mapInPandas encoder must equal the pure-Python reference —
    bpe_encode_word over the _NWS_RE words, mapped through the vocab with
    unseen symbols dropped — including empty/None docs and OOV-heavy
    words."""
    merges, vocab = bpe.bpe_train(docs, n_merges=6)
    tid = {r["token"]: r["token_id"] for r in vocab.collect()}
    probe = [(0, "low π∆ low"), (1, "πππ"), (2, ""), (3, None), (4, "the widest newest")]
    for rows in (CORPUS, probe):
        src = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_tokens"], list(r["token_ids"]))
            for r in bpe.bpe_encode(src, merges, vocab).collect()
        }
        want = {}
        for doc_id, text in rows:
            ids = [
                tid[sym]
                for w in re.findall(bpe._NWS_RE, text or "")
                for sym in bpe.bpe_encode_word(w, merges)
                if sym in tid
            ]
            want[doc_id] = (len(ids), ids)
        assert got == want


def test_encode_map_plan_is_shuffle_free(docs):
    """The encoder must be a single mapInPandas pass: no
    Exchange, no join — the property that makes it scale N->4N."""
    merges, vocab = bpe.bpe_train(docs, n_merges=4)
    df = bpe.bpe_encode(docs, merges, vocab)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "MapInPandas" in plan


def test_word_counts_cap_is_deterministic(spark):
    df = spark.createDataFrame(
        [(i, "aa bb bb cc cc cc dd dd dd dd") for i in range(3)],
        "doc_id long, text string",
    )
    top2 = {r["word"]: r["cnt"] for r in bpe.word_counts(df, max_words=2).collect()}
    assert top2 == {"dd": 12, "cc": 9}


def test_vocab_tokens_deduped():
    """Two merge paths can yield the same string ((a,bc) vs (ab,c) ->
    'abc'); the vocab must keep one row per token or the encode join
    fans out."""
    toks = bpe.build_vocab_tokens(
        ["a", "b", "c"], [("a", "b"), ("b", "c"), ("ab", "c"), ("a", "bc")]
    )
    assert toks.count("abc") == 1
    assert len(toks) == len(set(toks))
    # rank order preserved for the survivors
    assert toks.index("ab") < toks.index("bc") < toks.index("abc")
