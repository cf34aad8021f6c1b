"""Unigram-LM tokenizer training and encoding (SentencePiece companion
to `bpe.py`) — the second tokenizer-fit stage of an LLM training-data
pipeline.

Simplified unigram language model (Kudo 2018, "Subword Regularization"):
a piece vocabulary with probabilities, fitted by hard EM (Viterbi
E-step) over the corpus word-count table, then pruned to `vocab_size`.
Encoding segments each word with Viterbi under the fitted piece
log-probs. The full SentencePiece algorithm uses forward-backward
expected counts and a loss-ranked prune; the hard-EM / prob-ranked
variant here is deterministic, parity-testable, and keeps the same
corpus-side shape — the difference is confined to the driver-side fit
on the bounded word table.

Scale shape — identical to `bpe.py`, proven there: ONE corpus-sized
map-side-combined pass (`bpe.word_counts`, output bounded by the
distinct vocabulary and a deterministic `max_words` cap) feeds a
driver-side fit that is inherently sequential (each EM round re-scores
every candidate piece); encoding is a single shuffle-free mapInPandas
pass shipping only the MODEL (piece→(id, logp), bounded by
`vocab_size`) via `sparkContext.broadcast`, with a per-task memo cache
over Zipf-repeated words. Corpus text crosses into Python exactly once
(Arrow batches), never shuffles, and never reaches the driver.

No reference analog (CoastSat has no text layer); extends the
LLM-pipeline family (`bpe.py`, `selection.py`, `dedup.py`).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .bpe import _NWS_RE, word_counts


def _viterbi(word: str, logp: dict[str, float], max_len: int) -> list[str] | None:
    """Best segmentation of `word` into vocabulary pieces, or None when
    some character cannot be covered. Ties break toward the LONGER last
    piece (then lexicographically smaller), so the result is unique."""
    n = len(word)
    # best[i] = (score, start_of_last_piece) for word[:i]
    best: list[tuple[float, int] | None] = [None] * (n + 1)
    best[0] = (0.0, 0)
    for i in range(1, n + 1):
        cand: tuple[float, int, str] | None = None
        for j in range(max(0, i - max_len), i):
            if best[j] is None:
                continue
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None:
                continue
            score = best[j][0] + lp
            # longer last piece = smaller j; prefer it on exact ties
            if (
                cand is None
                or score > cand[0] + 1e-12
                or (abs(score - cand[0]) <= 1e-12 and (j < cand[1] or (j == cand[1] and piece < cand[2])))
            ):
                cand = (score, j, piece)
        if cand is not None:
            best[i] = (cand[0], cand[1])
    if best[n] is None:
        return None
    out: list[str] = []
    i = n
    while i > 0:
        j = best[i][1]
        out.append(word[j:i])
        i = j
    return out[::-1]


def unigram_train_ref(
    word_cnt: list[tuple[str, int]],
    vocab_size: int = 8000,
    seed_size: int = 0,
    max_piece_len: int = 8,
    n_iters: int = 4,
) -> dict[str, float]:
    """Pure-Python reference trainer over a (word, count) table; also the
    driver-side fit (input is vocabulary-bounded, like `bpe_train_ref`).
    Returns piece -> log-prob for the final vocabulary. Single
    characters seen in the corpus are always retained so every training
    word stays encodable."""
    vocab_size = int(vocab_size)
    seed_size = int(seed_size) or 4 * vocab_size
    # seed: all substrings up to max_piece_len, weighted by occurrence
    # count x length (SentencePiece's suffix-array seed has the same
    # intent: frequent, long candidates), capped deterministically
    sub_cnt: dict[str, int] = {}
    chars: set[str] = set()
    for w, c in word_cnt:
        chars.update(w)
        L = len(w)
        for i in range(L):
            for j in range(i + 1, min(i + max_piece_len, L) + 1):
                s = w[i:j]
                sub_cnt[s] = sub_cnt.get(s, 0) + c
    multi = [s for s in sub_cnt if len(s) > 1]
    multi.sort(key=lambda s: (-sub_cnt[s] * len(s), s))
    pieces = sorted(chars) + multi[: max(0, seed_size - len(chars))]

    # hard EM: Viterbi-count under current probs, re-estimate, prune tail
    cnt0 = {p: float(sub_cnt.get(p, 1)) for p in pieces}
    tot0 = sum(cnt0.values())
    logp = {p: math.log(c / tot0) for p, c in cnt0.items()}
    for _ in range(int(n_iters)):
        counts: dict[str, float] = {}
        for w, c in word_cnt:
            seg = _viterbi(w, logp, max_piece_len)
            if seg is None:
                continue
            for s in seg:
                counts[s] = counts.get(s, 0.0) + c
        # keep: every seen char (coverage) + top multi-char pieces by
        # count (ties: shorter then lexicographic, so probable AND
        # compact pieces survive), pruned toward vocab_size
        mult = [p for p in counts if len(p) > 1]
        mult.sort(key=lambda p: (-counts[p], len(p), p))
        keep = sorted(chars) + mult[: max(0, vocab_size - len(chars))]
        tot = sum(counts.get(p, 0.0) + 1e-9 for p in keep)
        logp = {p: math.log((counts.get(p, 0.0) + 1e-9) / tot) for p in keep}
    return logp


def unigram_train(
    docs: DataFrame,
    vocab_size: int = 8000,
    text_col: str = "text",
    max_words: int = 1_000_000,
    max_piece_len: int = 8,
    n_iters: int = 4,
) -> tuple[dict[str, float], DataFrame]:
    """Fit the unigram LM on a corpus. Returns (logp, vocab_df) where
    logp maps piece -> log-prob and vocab_df is (token string, token_id
    long, logp double) with ids assigned in (piece-length, lexicographic)
    order — deterministic end to end."""
    wc = [(r["word"], r["cnt"]) for r in word_counts(docs, text_col, max_words).collect()]
    logp = unigram_train_ref(wc, vocab_size, 0, max_piece_len, n_iters)
    toks = sorted(logp, key=lambda p: (len(p), p))
    spark = docs.sparkSession
    vocab = spark.createDataFrame(
        [(t, i, float(logp[t])) for i, t in enumerate(toks)],
        "token string, token_id long, logp double",
    )
    return logp, vocab


def unigram_encode(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece_len: int = 8,
) -> DataFrame:
    """Encode a corpus with a fitted unigram vocabulary: (doc_id,
    n_tokens, token_ids array<long>), token stream in document order.
    Words containing characters outside the vocabulary are dropped
    whole (Viterbi cannot cover them — the analog of BPE's OOV-symbol
    drop, but segmentation-level).

    Single shuffle-free mapInPandas pass; only the model (piece ->
    (id, logp)) is broadcast. Same scale shape as
    `bpe.bpe_encode`, including the per-task memo cache."""
    import re

    model = {
        r["token"]: (r["token_id"], r["logp"]) for r in vocab.collect()
    }
    sc = docs.sparkSession.sparkContext
    model_bc = sc.broadcast((model, int(max_piece_len)))
    word_re = re.compile(_NWS_RE)
    src = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.coalesce(
            F.col(text_col) if isinstance(text_col, str) else text_col, F.lit("")
        ).alias("_t"),
    )

    def encode_batches(batches):
        m, mpl = model_bc.value
        logp = {p: lp for p, (_, lp) in m.items()}
        memo: dict[str, list[int]] = {}

        def ids_for(w: str) -> list[int]:
            got = memo.get(w)
            if got is None:
                seg = _viterbi(w, logp, mpl)
                got = memo[w] = [] if seg is None else [m[s][0] for s in seg]
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
