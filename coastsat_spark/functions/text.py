"""Text extraction and text-analysis kernels.

The HTML->text extractor is the engine's per-row invariant surface: for
every ``url`` the extracted ``text`` must be byte-identical to the table's
``text`` column (BASELINE.json input_hint). The extractor and the geotag
parse are JVM expressions (`extract_text`, `tiling.with_geo`); the
pure-Python forms (`extract_text_bytes`, `parse_geotag_bytes`) are the
byte-level references the tests compare them against.

Analysis operators (language-ID, quality scoring, token counting, rolling
fingerprints) are the training-data-pipeline additions the engine provides
beyond the reference (which has no text layer at all). The corpus-scale
paths are pure JVM expressions (`*_col`) or JVM-tokenized + vectorized
numpy folds; the pure-Python forms stay as pytest reference
implementations and are NOT used on any hot path.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_ARTICLE_RE = re.compile(rb"<article>(.*?)</article>", re.DOTALL)
_GEO_RE = re.compile(rb'<meta name="geo" content="(-?\d+\.\d+);(-?\d+\.\d+)"')
_TAG_RE = re.compile(rb"<[^>]+>")

# BPE-ish tokenizer: words, numbers, or single non-space symbols
_TOKEN_RE = re.compile(r"[A-Za-z]+|\d+|[^\sA-Za-z\d]")

_STOPWORDS = frozenset(
    "the and with from they have this that los las con por para pero este esta "
    "les des une dans pour avec cette sont der die das und mit von nicht sind "
    "uma nao mais como dos das che per una del non sono alla het een van voor "
    "niet zijn maar".split()
)


def extract_text_bytes(html: bytes) -> str:
    """Extract article body text from html bytes; byte-identical contract.

    Falls back to stripping all tags when no <article> container exists
    (robustness for foreign corpora); the synthetic corpus always has one.
    """
    if html is None:
        return None
    m = _ARTICLE_RE.search(html)
    if m:
        return m.group(1).decode("utf-8", errors="replace")
    return _TAG_RE.sub(b" ", html).decode("utf-8", errors="replace").strip()


def parse_geotag_bytes(html: bytes) -> tuple[float, float]:
    if html is None:
        return (None, None)
    m = _GEO_RE.search(html)
    if not m:
        return (None, None)
    return (float(m.group(1)), float(m.group(2)))


def extract_text(html) -> "F.Column":
    """HTML -> article text as a pure JVM expression (no Python, no
    Arrow transfer of the html payload — it stayed the biggest single
    Python-boundary crossing in the bench at ~400 MB/sf0.1-query).

    Mirrors `extract_text_bytes` exactly on valid-UTF-8 input (the
    corpus is ASCII by construction, and the DuckDB oracle replays this
    same regexp form): first `<article>`-to-nearest-`</article>` block
    via one DOTALL regex, else strip all tags and trim. The presence
    test is substring search (locate), not a second regex pass.
    Divergences, both outside the byte-identity contract: invalid UTF-8
    passes through Spark strings raw instead of U+FFFD-replaced, and
    the fallback trim strips Java `\\s` (ASCII whitespace) where
    Python's strip() also handles exotic unicode spaces.
    """
    col = html if not isinstance(html, str) else F.col(html)
    s = col.cast("string")
    p1 = F.locate("<article>", s)
    has = (p1 > 0) & (
        F.call_function("locate", F.lit("</article>"), s, p1 + F.lit(9)) > 0
    )
    article = F.regexp_extract(s, r"(?s)<article>(.*?)</article>", 1)
    stripped = F.regexp_replace(
        F.regexp_replace(s, "<[^>]+>", " "), r"^\s+|\s+$", ""
    )
    return F.when(has, article).otherwise(stripped)


# ---------------------------------------------------------------- tokens

# the same BPE-ish pattern as a Spark/DuckDB-safe string (pass via F.lit —
# SQL string literals would eat the backslash in \s, see oracle pitfalls)
TOKEN_RE_SQL = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"


def tokenize(text: str) -> list[str]:
    return _TOKEN_RE.findall(text) if text else []


def token_count_col(text_col) -> "F.Column":
    """Token count as a pure JVM expression (regexp_extract_all + size) —
    no Python on the corpus-sized path."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_RE_SQL), F.lit(0)))


# ------------------------------------------------------------ language-ID

# character-bigram profiles per language are derived from the marker-word
# inventory; scoring = fraction of text bigrams present in each profile.
_LANG_MARKERS = {
    "en": "the and with from they have this that",
    "es": "los las con por para pero este esta",
    "fr": "les des une dans pour avec cette sont",
    "de": "der die das und mit von nicht sind",
    "pt": "uma com nao por mais como dos das",
    "it": "che per una con del non sono alla",
    "nl": "het een van voor met niet zijn maar",
}


def _profile(words: str) -> frozenset:
    grams = set()
    for w in words.split():
        w = f" {w} "
        grams.update(w[i : i + 2] for i in range(len(w) - 1))
    return frozenset(grams)


_LANG_PROFILES = {lang: _profile(words) for lang, words in _LANG_MARKERS.items()}


def langid_score(text: str) -> str:
    """N-gram-overlap language guess. Deterministic tie-break by lang name.

    Pure-Python reference implementation; the corpus-scale path is
    `langid_col` (all-JVM), whose parity with this function is pytest-ed.
    """
    if not text:
        return "und"
    grams = set()
    for w in text.lower().split():
        w = f" {w} "
        grams.update(w[i : i + 2] for i in range(len(w) - 1))
    best_lang, best = "und", -1.0
    for lang in sorted(_LANG_PROFILES):
        p = _LANG_PROFILES[lang]
        score = len(grams & p) / max(len(p), 1)
        if score > best:
            best_lang, best = lang, score
    return best_lang if best > 0 else "und"


# whitespace as an explicit class so Spark and DuckDB regex semantics match
_WS_CLASS = "[ \\t\\n\\r\\f\\v]+"


def langid_col(text_col) -> "F.Column":
    """Language-ID as a pure JVM expression — the 100 TB path.

    score(lang) = fraction of the language's bigram profile present in
    the text's padded-word bigram set. A profile gram is 2 chars: either
    two letters (intra-word substring) or a letter + space (word
    boundary), so after collapsing whitespace runs to single spaces and
    padding the ends, `contains(norm, gram)` IS set membership — the
    expression computes exactly `langid_score` with ~|profile| codegen'd
    substring searches per language and zero Python.
    Tie-break: struct max on (score, reverse-rank) = alphabetically first
    language among ties, matching the reference loop.
    """
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    norm = F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(col), F.lit(_WS_CLASS), F.lit(" ")),
        F.lit(" "),
    )
    langs = sorted(_LANG_PROFILES)
    entries = []
    for i, lang in enumerate(langs):
        grams = sorted(_LANG_PROFILES[lang])
        hits = None
        for g in grams:
            h = F.contains(norm, F.lit(g)).cast("int")
            hits = h if hits is None else hits + h
        score = hits.cast("double") / float(len(grams))
        entries.append(
            F.struct(
                score.alias("s"),
                F.lit(len(langs) - i).alias("r"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.greatest(*entries)
    return F.when(best["s"] > 0.0, best["lang"]).otherwise(F.lit("und"))


def langid_score_sql(text_expr: str, dialect_global_flag: bool = True) -> str:
    """The same language-ID expression as ANSI SQL (DuckDB oracle mirror).

    DuckDB's regexp_replace needs an explicit 'g' flag to replace every
    whitespace run (Spark replaces all matches by default).
    """
    flag = ", 'g'" if dialect_global_flag else ""
    norm = (
        f"(' ' || regexp_replace(lower({text_expr}), '{_WS_CLASS}', ' '{flag}) || ' ')"
    )
    langs = sorted(_LANG_PROFILES)
    score_exprs = {}
    for lang in langs:
        grams = sorted(_LANG_PROFILES[lang])
        terms = " + ".join(
            f"(CASE WHEN contains({norm}, '{g}') THEN 1 ELSE 0 END)" for g in grams
        )
        score_exprs[lang] = f"(CAST({terms} AS DOUBLE) / {float(len(grams))!r})"
    # first (alphabetically) language holding the max score, else 'und'
    branches = []
    for lang in langs:
        others = " AND ".join(
            f"{score_exprs[lang]} >= {score_exprs[o]}" for o in langs if o != lang
        )
        branches.append(f"WHEN {score_exprs[lang]} > 0 AND {others} THEN '{lang}'")
    return "CASE " + " ".join(branches) + " ELSE 'und' END"


# ---------------------------------------------------------- quality score

def quality_features(text: str) -> tuple[int, float, float, float]:
    """(n_chars, punct_ratio, stopword_ratio, mean_word_len)."""
    if not text:
        return (0, 0.0, 0.0, 0.0)
    n = len(text)
    toks = tokenize(text)
    words = [t for t in toks if t.isalpha()]
    punct = sum(1 for t in toks if not t.isalnum())
    stop = sum(1 for w in words if w.lower() in _STOPWORDS)
    return (
        n,
        punct / max(len(toks), 1),
        stop / max(len(words), 1),
        sum(map(len, words)) / max(len(words), 1),
    )


def quality_score_value(text: str) -> float:
    """Composite [0,1] quality: length band + stopword presence - punct noise.

    Heuristic in the Gopher/C4-rule family (public recipes), deterministic.
    Pure-Python reference; the corpus-scale path is `quality_score_col`.
    """
    n, punct, stop, mwl = quality_features(text)
    length_ok = min(n / 200.0, 1.0) * (1.0 if n < 20000 else 0.5)
    stop_ok = min(stop / 0.2, 1.0)
    punct_pen = max(0.0, 1.0 - 4.0 * punct)
    word_ok = 1.0 if 2.0 <= mwl <= 12.0 else 0.3
    return round(0.4 * length_ok + 0.3 * stop_ok + 0.2 * punct_pen + 0.1 * word_ok, 6)


def quality_score_col(text_col) -> "F.Column":
    """quality_score as JVM expressions (regex counts + arithmetic).

    Feature extraction = four regexp passes (token count, alpha-token
    count, digit-token count, alpha-char count) + one small filtered-array
    pass for stopwords; everything else is scalar arithmetic in the same
    operation order as `quality_score_value`, so values agree bit-for-bit
    (pytest-ed) without a single row of Python.
    """
    raw = F.col(text_col) if isinstance(text_col, str) else text_col
    col = F.coalesce(raw, F.lit(""))  # the reference scores None like ""
    n = F.length(col)
    n_tok = F.size(F.regexp_extract_all(col, F.lit(TOKEN_RE_SQL), F.lit(0)))
    n_alpha = F.size(F.regexp_extract_all(col, F.lit("[A-Za-z]+"), F.lit(0)))
    n_num = F.size(F.regexp_extract_all(col, F.lit("[0-9]+"), F.lit(0)))
    alpha_chars = n - F.length(F.regexp_replace(col, F.lit("[A-Za-z]"), F.lit("")))
    n_stop = F.size(
        F.filter(
            F.regexp_extract_all(F.lower(col), F.lit("[a-z]+"), F.lit(0)),
            lambda w: w.isin(*sorted(_STOPWORDS)),
        )
    )
    punct_ratio = (n_tok - n_alpha - n_num).cast("double") / F.greatest(n_tok, F.lit(1))
    stop_ratio = n_stop.cast("double") / F.greatest(n_alpha, F.lit(1))
    mwl = alpha_chars.cast("double") / F.greatest(n_alpha, F.lit(1))
    length_ok = F.least(n / F.lit(200.0), F.lit(1.0)) * F.when(n < 20000, 1.0).otherwise(0.5)
    stop_ok = F.least(stop_ratio / F.lit(0.2), F.lit(1.0))
    punct_pen = F.greatest(F.lit(1.0) - F.lit(4.0) * punct_ratio, F.lit(0.0))
    word_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), 1.0).otherwise(0.3)
    return F.round(
        F.lit(0.4) * length_ok + F.lit(0.3) * stop_ok
        + F.lit(0.2) * punct_pen + F.lit(0.1) * word_ok,
        6,
    )


def quality_score_sql(text_expr: str) -> str:
    """quality_score as DuckDB SQL (oracle mirror; 'g' flag on the
    char-strip regexp_replace — DuckDB replaces first-match by default)."""
    stops = ", ".join(f"'{w}'" for w in sorted(_STOPWORDS))
    t = f"coalesce({text_expr}, '')"
    n = f"length({t})"
    n_tok = f"len(regexp_extract_all({t}, '{TOKEN_RE_SQL}'))"
    n_alpha = f"len(regexp_extract_all({t}, '[A-Za-z]+'))"
    n_num = f"len(regexp_extract_all({t}, '[0-9]+'))"
    alpha_chars = f"({n} - length(regexp_replace({t}, '[A-Za-z]', '', 'g')))"
    n_stop = (
        f"len(list_filter(regexp_extract_all(lower({t}), '[a-z]+'),"
        f" w -> w IN ({stops})))"
    )
    punct_ratio = f"(CAST({n_tok} - {n_alpha} - {n_num} AS DOUBLE) / greatest({n_tok}, 1))"
    stop_ratio = f"(CAST({n_stop} AS DOUBLE) / greatest({n_alpha}, 1))"
    mwl = f"(CAST({alpha_chars} AS DOUBLE) / greatest({n_alpha}, 1))"
    length_ok = f"(least({n} / 200.0, 1.0) * (CASE WHEN {n} < 20000 THEN 1.0 ELSE 0.5 END))"
    stop_ok = f"least({stop_ratio} / 0.2, 1.0)"
    punct_pen = f"greatest(1.0 - 4.0 * {punct_ratio}, 0.0)"
    word_ok = f"(CASE WHEN {mwl} >= 2.0 AND {mwl} <= 12.0 THEN 1.0 ELSE 0.3 END)"
    return f"round(0.4 * {length_ok} + 0.3 * {stop_ok} + 0.2 * {punct_pen} + 0.1 * {word_ok}, 6)"


# ----------------------------------------------------- fingerprint / hashes

# odd base -> invertible mod 2^64, so the rolling hash never collapses
_FP_BASE = np.uint64(1000003)


def fingerprint64_ref(token_hashes) -> int:
    """Reference Horner fold for the document fingerprint:
    h = sum_i xxhash64(tok_i) * BASE^(n-1-i)  (mod 2^64), as signed int64.

    The spec folds per-TOKEN xxhash64 values (computed JVM-side), not
    per-byte Python — the r2 per-byte loop was the textbook row-at-a-time
    scale-killer on a full-corpus operator.
    """
    h = np.uint64(0)
    with np.errstate(over="ignore"):
        for th in token_hashes:
            h = h * _FP_BASE + np.uint64(np.int64(th))
    return int(h.astype(np.int64))


def np_fingerprints(tok_arrays) -> np.ndarray:
    """Vectorized batch form of fingerprint64_ref: one flat token-hash
    stream, powers table via wrapping cumprod, per-doc dot-fold via
    np.add.reduceat. int64 out; empty docs hash to 0."""
    n = len(tok_arrays)
    out = np.zeros(n, dtype=np.uint64)
    # null text -> null token array from the JVM tokenizer: score like empty
    lens = np.fromiter(
        (0 if a is None else len(a) for a in tok_arrays), dtype=np.int64, count=n
    )
    nonempty = np.flatnonzero(lens)
    if nonempty.size == 0:
        return out.astype(np.int64)
    flat = np.concatenate(
        [np.asarray(a, dtype=np.int64) for a in tok_arrays if a is not None and len(a)]
    ).view(np.uint64)
    maxlen = int(lens.max())
    powers = np.full(maxlen, _FP_BASE, dtype=np.uint64)
    powers[0] = np.uint64(1)
    with np.errstate(over="ignore"):
        powers = np.cumprod(powers)  # BASE^j mod 2^64 (uint64 wraps)
        starts = np.concatenate(([0], np.cumsum(lens[nonempty])[:-1]))
        ends_rep = np.repeat(starts + lens[nonempty], lens[nonempty])
        exps = ends_rep - 1 - np.arange(len(flat), dtype=np.int64)
        contrib = flat * powers[exps]
        out[nonempty] = np.add.reduceat(contrib, starts)
    return out.astype(np.int64)


def fingerprint_col(text_col: str) -> "F.Column":
    """Document fingerprint column: JVM tokenize+xxhash64 (the text never
    crosses the Arrow boundary) + a fully vectorized numpy fold.
    Takes a column NAME (the tokenizer is a SQL expression template)."""
    from ..operators.dedup import token_hashes_col  # lazy: avoid cycles

    @F.pandas_udf(T.LongType())
    def fp(th: pd.Series) -> pd.Series:
        return pd.Series(np_fingerprints(th.to_numpy()))

    return fp(token_hashes_col(text_col))


def shingles(text: str, k: int = 3) -> set:
    """k-word shingle set (token n-grams) for MinHash/Jaccard dedup."""
    toks = [t.lower() for t in tokenize(text) if t.isalnum()]
    if len(toks) < k:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


# ------------------------------------------------- repetition (Gopher/C4)

_WORD_RE = re.compile(r"[a-z]+")


def repetition_stats_ref(text: str) -> tuple | None:
    """Pure-Python reference for `repetition_stats` (pytest parity only).

    Gopher-style intra-document repetition signals over lowercase alpha
    words: mode-word fraction, distinct-word fraction, duplicate word
    2-gram fraction, and Shannon word entropy (nats, via the one-pass
    identity H = ln(n) - sum(c*ln c)/n). Returns None for wordless docs
    (both engines emit no row — explode/unnest semantics).
    """
    import collections
    import math as _m

    words = _WORD_RE.findall((text or "").lower())
    n = len(words)
    if n == 0:
        return None
    counts = collections.Counter(words)
    bigrams = [f"{a} {b}" for a, b in zip(words, words[1:])]
    nb = len(bigrams)
    dup_bg = 0.0 if nb == 0 else 1.0 - len(set(bigrams)) / nb
    sclnc = sum(c * _m.log(c) for c in counts.values())
    return (
        n,
        round(max(counts.values()) / n, 6),
        round(len(counts) / n, 6),
        round(dup_bg, 6),
        round(_m.log(n) - sclnc / n, 6),
    )


def repetition_stats(
    docs: "DataFrame", text_col: str = "text", id_col: str = "doc_id"
) -> "DataFrame":
    """Per-document repetition metrics (Gopher/C4 quality-filter family).

    Columns: (id, n_words, top_word_frac, distinct_word_frac,
    dup_bigram_frac, word_entropy). 100 TB shape: tokenization and the
    bigram distinct-count are per-row JVM array expressions (no shuffle);
    the word-frequency mode/entropy take ONE exchange keyed by
    (doc, word) with map-side combine — cardinality is bounded by total
    corpus words, never all-pairs. Entropy uses the one-pass identity
    H = ln(n) - sum(c*ln c)/n so no second per-doc pass is needed.

    Wordless documents emit no row (explode semantics, mirrored by the
    DuckDB oracle's unnest).
    """
    from pyspark.sql import DataFrame  # noqa: F401  (doc type only)

    ws = F.regexp_extract_all(
        F.lower(F.coalesce(F.col(text_col), F.lit(""))), F.lit("[a-z]+"), F.lit(0)
    )
    base = docs.select(F.col(id_col), ws.alias("ws")).filter(F.size("ws") > 0)
    bg = F.expr(
        "transform(slice(ws, 1, size(ws) - 1), (x, i) -> concat(x, ' ', element_at(ws, i + 2)))"
    )
    shaped = base.select(
        id_col,
        "ws",
        F.size("ws").cast("bigint").alias("n_words"),
        F.size(bg).cast("bigint").alias("n_bigrams"),
        F.size(F.array_distinct(bg)).cast("bigint").alias("n_distinct_bigrams"),
    )
    wc = (
        shaped.select(
            id_col, "n_words", "n_bigrams", "n_distinct_bigrams",
            F.explode("ws").alias("w"),
        )
        .groupBy(id_col, "n_words", "n_bigrams", "n_distinct_bigrams", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = wc.groupBy(id_col, "n_words", "n_bigrams", "n_distinct_bigrams").agg(
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.max("c").alias("top_c"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias("sclnc"),
    )
    n = F.col("n_words").cast("double")
    return stats.select(
        id_col,
        "n_words",
        F.round(F.col("top_c") / n, 6).alias("top_word_frac"),
        F.round(F.col("n_distinct_words") / n, 6).alias("distinct_word_frac"),
        F.round(
            F.when(F.col("n_bigrams") == 0, F.lit(0.0)).otherwise(
                F.lit(1.0) - F.col("n_distinct_bigrams") / F.col("n_bigrams").cast("double")
            ),
            6,
        ).alias("dup_bigram_frac"),
        F.round(F.log(n) - F.col("sclnc") / n, 6).alias("word_entropy"),
    )


def repetition_stats_sql(table: str = "documents", id_col: str = "doc_id") -> str:
    """DuckDB mirror of `repetition_stats` (oracle). Same word regex,
    same 1-based pairing (DuckDB list lambdas index from 1, Spark
    `transform` from 0 — both pair element i with element i+1 of the
    original array), same one-pass entropy identity, same round-6."""
    return f"""
WITH base AS (
  SELECT {id_col}, regexp_extract_all(lower(coalesce(text, '')), '[a-z]+') AS ws
  FROM {table}
), shaped AS (
  SELECT {id_col}, ws, len(ws) AS n_words,
         list_transform(ws[:len(ws) - 1], (x, i) -> concat(x, ' ', ws[i + 1])) AS bg
  FROM base WHERE len(ws) > 0
), bb AS (
  SELECT {id_col}, n_words, len(bg) AS n_bigrams,
         len(list_distinct(bg)) AS n_distinct_bigrams
  FROM shaped
), wc AS (
  SELECT {id_col}, w, count(*) AS c
  FROM (SELECT {id_col}, unnest(ws) AS w FROM base)
  GROUP BY {id_col}, w
), s AS (
  SELECT {id_col}, count(*) AS n_distinct_words, max(c) AS top_c,
         sum(c * ln(c)) AS sclnc, sum(c) AS n
  FROM wc GROUP BY {id_col}
)
SELECT s.{id_col}, bb.n_words,
  round(top_c / CAST(s.n AS DOUBLE), 6) AS top_word_frac,
  round(n_distinct_words / CAST(s.n AS DOUBLE), 6) AS distinct_word_frac,
  round(CASE WHEN n_bigrams = 0 THEN 0.0
             ELSE 1.0 - n_distinct_bigrams / CAST(n_bigrams AS DOUBLE) END,
        6) AS dup_bigram_frac,
  round(ln(CAST(s.n AS DOUBLE)) - sclnc / s.n, 6) AS word_entropy
FROM s JOIN bb ON s.{id_col} = bb.{id_col}
"""


# ----------------------------------------------------------- PII redaction

# Order matters: emails are matched before phones/IPs so their digit runs
# are consumed first; the patterns are valid in BOTH Java regex (Spark)
# and RE2 (DuckDB) — ASCII \d semantics agree, no lookarounds.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d()-]{7,}\d", "<PHONE>"),
]


def redact_pii_ref(text: str) -> str:
    """Pure-Python reference for `redact_pii_col` (pytest parity)."""
    out = text or ""
    for _, pat, repl in PII_PATTERNS:
        out = re.sub(pat, repl, out)
    return out


def pii_count_ref(text: str) -> int:
    n, t = 0, text or ""
    for _, pat, _repl in PII_PATTERNS:
        n += len(re.findall(pat, t))
        t = re.sub(pat, "", t)  # sequential: earlier kinds consume their text
    return n


def redact_pii_col(text_col) -> "F.Column":
    """Replace emails / IPv4s / phone numbers with typed placeholders —
    a chain of JVM regexp_replace calls (whole-stage codegen, no Python).
    The corpus-scale redaction pass a training-data pipeline runs before
    publishing text."""
    col = F.coalesce(F.col(text_col) if isinstance(text_col, str) else text_col, F.lit(""))
    for _, pat, repl in PII_PATTERNS:
        col = F.regexp_replace(col, pat, repl)
    return col


def pii_count_col(text_col) -> "F.Column":
    """Count of PII matches (sequential semantics identical to
    `pii_count_ref`: each kind counts on text already stripped of earlier
    kinds, so an email's digits never double-count as a phone)."""
    col = F.coalesce(F.col(text_col) if isinstance(text_col, str) else text_col, F.lit(""))
    total = F.lit(0)
    for _, pat, _repl in PII_PATTERNS:
        total = total + F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0)))
        col = F.regexp_replace(col, pat, "")
    return total.cast("bigint")


def redact_pii_sql(text_expr: str) -> str:
    """DuckDB mirror of redact_pii_col ('g' flag: replace ALL matches)."""
    out = f"coalesce({text_expr}, '')"
    for _, pat, repl in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '{repl}', 'g')"
    return out


def pii_count_sql(text_expr: str) -> str:
    col = f"coalesce({text_expr}, '')"
    parts = []
    for _, pat, _repl in PII_PATTERNS:
        parts.append(f"len(regexp_extract_all({col}, '{pat}'))")
        col = f"regexp_replace({col}, '{pat}', '', 'g')"
    return "(" + " + ".join(parts) + ")"


def fingerprint_oracle_sql(table: str = "documents", id_col: str = "doc_id") -> str:
    """DuckDB mirror of q_fingerprints (fingerprint_col): per-token Spark
    xxhash64 (hashing.xxh64_string_steps) folded Horner-style,
    h = sum_i th_i * BASE^(n-1-i) mod 2^64 — the BASE powers come from a
    recursive CTE of wrapping multiplies, the per-token contributions sum
    in HUGEINT (< 2^64 * n_tokens, far inside 128 bits) and reduce mod
    2^64 once per document. Docs with NULL text or zero alnum tokens
    fingerprint to 0, exactly np_fingerprints' empty-doc path."""
    from ..hashing import U64, mulmod64_cols_sql, mulmod64_sql, u64_to_i64_sql
    from ..operators.dedup import tokhash_cte_sql  # lazy: avoid cycles

    return f"""
    WITH RECURSIVE {tokhash_cte_sql(table, id_col)},
    nd AS (SELECT doc_id, max(pos) AS n FROM tokh GROUP BY 1),
    pw(e, p) AS (
      SELECT 0, CAST(1 AS UBIGINT)
      UNION ALL
      SELECT e + 1, {mulmod64_sql('p', int(_FP_BASE))}
      FROM pw WHERE e + 1 < (SELECT max(n) FROM nd)),
    fpu AS (
      SELECT t.doc_id,
             CAST(sum(CAST({mulmod64_cols_sql('t.th', 'pw.p')} AS HUGEINT))
                  % {U64} AS UBIGINT) AS fp_u
      FROM tokh t JOIN nd USING (doc_id) JOIN pw ON pw.e = nd.n - t.pos
      GROUP BY 1)
    SELECT d.{id_col} AS doc_id,
           coalesce({u64_to_i64_sql('f.fp_u')}, 0) AS fp
    FROM {table} d LEFT JOIN fpu f ON f.doc_id = d.{id_col}"""
