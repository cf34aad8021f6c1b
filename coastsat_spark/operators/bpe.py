"""BPE tokenizer training and encoding — the tokenizer-fit stage of an
LLM training-data pipeline.

Classic character-level BPE (Sennrich et al. 2016): start from the
character vocabulary (with an end-of-word marker), repeatedly merge the
most frequent adjacent symbol pair, ties broken by the lexicographically
smallest pair, until `n_merges` merges are learned. Encoding applies the
merges in rank order to each word.

Scale shape — why this is 100 TB-safe even though the merge loop runs on
the driver: the corpus side is ONE map-side-combined shuffle
(`word_counts`: explode to words, groupBy word) whose output is bounded
by the DISTINCT-word vocabulary, not the corpus (Zipf: web-scale corpora
hold ~10^6-10^7 distinct words; `max_words` caps it hard and keeps the
count-mass coverage deterministic — highest count first, ties by word).
The merge loop is inherently sequential (each merge changes the pair
statistics the next one sees), so it runs over that bounded table in
NumPy-grade Python — the same bounded-model-fit pattern as
`classify.train_nn_model` and `dedup._driver_connected_components`;
corpus text never reaches the driver. Encoding re-uses the bound the
other way: only the model (merges + token->id dict) is broadcast, and
one shuffle-free mapInPandas pass encodes each batch through a per-task
memo cache, so each distinct word is encoded about once per task.

No reference analog (CoastSat has no text layer); extends the
LLM-pipeline family (`selection.py`, `packing.py`, `dedup.py`).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

# words = non-whitespace runs, the same convention as gopher_rules /
# pack_sequences — tokenizer-level splitting beyond that (punctuation,
# case) is the caller's normalization choice
_NWS_RE = r"[^ \t\n\r\f\v]+"
_EOW = "</w>"


def word_counts(
    docs: DataFrame,
    text_col: str = "text",
    max_words: int = 1_000_000,
) -> DataFrame:
    """(word, cnt) over the corpus — the ONE corpus-sized pass of BPE
    training, map-side combined, output bounded by the distinct
    vocabulary and capped at the `max_words` highest-count words
    (ties broken by word, so the cap is deterministic)."""
    t = F.coalesce(F.col(text_col) if isinstance(text_col, str) else text_col, F.lit(""))
    wc = (
        docs.select(F.explode(F.regexp_extract_all(t, F.lit(_NWS_RE), F.lit(0))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    return wc.orderBy(F.desc("cnt"), F.asc("word")).limit(int(max_words))


def bpe_train_ref(word_cnt: list[tuple[str, int]], n_merges: int) -> list[tuple[str, str]]:
    """Pure-Python reference BPE trainer over a (word, count) table:
    the textbook algorithm, used both as the driver-side trainer (its
    input is vocabulary-bounded) and as the parity oracle in tests.
    Returns merges in learned order; may stop early when no pair is
    left to merge."""
    # symbol sequences per word: characters + end-of-word marker
    seqs: dict[str, list[str]] = {w: list(w) + [_EOW] for w, _ in word_cnt}
    counts = dict(word_cnt)
    merges: list[tuple[str, str]] = []
    for _ in range(int(n_merges)):
        pair_cnt: dict[tuple[str, str], int] = {}
        for w, seq in seqs.items():
            c = counts[w]
            for a, b in zip(seq, seq[1:]):
                pair_cnt[(a, b)] = pair_cnt.get((a, b), 0) + c
        if not pair_cnt:
            break
        # most frequent pair; ties -> lexicographically smallest pair
        best = min(pair_cnt, key=lambda p: (-pair_cnt[p], p))
        merges.append(best)
        ab = best[0] + best[1]
        for w, seq in seqs.items():
            if best[0] not in seq:
                continue
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == best[0] and seq[i + 1] == best[1]:
                    out.append(ab)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            seqs[w] = out
    return merges


def bpe_encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Apply learned merges to one word — in learned order, all
    occurrences left-to-right, the exact pass the trainer uses — so
    encoding a word seen at training reproduces its trained
    segmentation. Returns the symbol sequence incl. _EOW."""
    seq = list(word) + [_EOW]
    for a, b in merges:
        if a not in seq:
            continue
        out, i = [], 0
        while i < len(seq):
            if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(seq[i])
                i += 1
        seq = out
    return seq


def build_vocab_tokens(chars: list[str], merges: list[tuple[str, str]]) -> list[str]:
    """Deterministic token list: _EOW, then sorted characters, then
    merged symbols in rank order — DEDUPED preserving first occurrence,
    because two different merge paths can produce the same string
    (e.g. (a,bc) and (ab,c) both yield 'abc') and a duplicate token row
    would fan out the encode join."""
    seen: dict[str, None] = {}
    for t in [_EOW] + sorted(chars) + [a + b for a, b in merges]:
        seen.setdefault(t)
    return list(seen)


def bpe_train(
    docs: DataFrame,
    n_merges: int = 1000,
    text_col: str = "text",
    max_words: int = 1_000_000,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Train BPE merges on a corpus. Returns (merges, vocab_df) where
    merges is the learned merge list in rank order and vocab_df is a
    DataFrame (token: string, token_id: long) over every symbol the
    merges can produce (characters seen + merged symbols + _EOW),
    token_id assigned by first-seen-character order then merge rank —
    deterministic end to end."""
    wc = [(r["word"], r["cnt"]) for r in word_counts(docs, text_col, max_words).collect()]
    merges = bpe_train_ref(wc, n_merges)
    chars = sorted({c for w, _ in wc for c in w})
    tokens = build_vocab_tokens(chars, merges)
    spark = docs.sparkSession
    vocab = spark.createDataFrame(
        [(t, i) for i, t in enumerate(tokens)], "token string, token_id long"
    )
    return merges, vocab


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode a corpus with learned merges: (doc_id, n_tokens,
    token_ids array<long>), token stream in document order, out-of-vocab
    characters (unseen at train time) dropped with their word's
    remaining symbols kept.

    One mapInPandas pass over the documents: the merges and the
    token->id dict (both MODEL-sized: chars + n_merges entries, NOT
    corpus-derived) ship to executors via a real
    `sparkContext.broadcast`; each Arrow batch splits words with the
    same regex and encodes through a per-task memo cache (Zipf word
    re-use makes the cache hit rate ~= 1 - distinct/total). ZERO
    shuffles, zero corpus-derived broadcast, embarrassingly parallel —
    the plan you want at 100 TB and the one that scales N->4N (a
    distinct-word broadcast-join form measured 0.43 efficiency at sf1
    because its driver-side broadcast build of the corpus-derived word
    table and its two corpus shuffles do not parallelize;
    BENCH/pipeline_ops_scaling.json).
    """
    import re

    merge_list = [tuple(p) for p in merges]
    tok_id = {r["token"]: r["token_id"] for r in vocab.collect()}
    sc = docs.sparkSession.sparkContext
    model_bc = sc.broadcast((merge_list, tok_id))
    word_re = re.compile(_NWS_RE)
    tcol = text_col if isinstance(text_col, str) else None
    src = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.coalesce(F.col(text_col) if tcol else text_col, F.lit("")).alias("_t"),
    )

    def encode_batches(batches):
        ml, tid = model_bc.value
        memo: dict[str, list[int]] = {}

        def ids_for(w: str) -> list[int]:
            got = memo.get(w)
            if got is None:
                got = memo[w] = [
                    tid[s] for s in bpe_encode_word(w, ml) if s in tid
                ]
            return got

        for pdf in batches:
            toks = [
                [i for w in word_re.findall(t) for i in ids_for(w)]
                for t in pdf["_t"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": pd.Series([len(t) for t in toks], dtype="int32"),
                    "token_ids": toks,
                }
            )

    return src.mapInPandas(
        encode_batches, "doc_id long, n_tokens int, token_ids array<long>"
    )
