"""End-to-end training-corpus curation: the LLM-data analog of
`plans/pipeline.py`'s flagship composition.

Chains the round-5 operator family into the canonical curation order a
web-scale pretraining pipeline runs (Gopher -> dedup -> decontaminate
-> tokenize -> pack), entirely as composed DataFrame plans — one
logical pipeline, no driver-side materialization between stages beyond
the two bounded model fits (MinHash connected components and the
tokenizer merge table, both vocabulary-bounded by construction).

Stage shapes (each documented and plan-tested at its own operator):
  1. quality gate      selection.gopher_rules   fused JVM regexp/array
  2. near-dup dedup    dedup.minhash_dedup_assign  banded LSH, linear output
  3. decontamination   dedup.decontaminate      broadcast eval digests
  4. tokenization      bpe.bpe_train/bpe_encode shuffle-free mapInPandas
  5. context packing   packing.pack_sequences   one hash-shard exchange

At 100 TB each arrow between stages would be a written (and
checkpoint-lineaged) table rather than a fused lazy plan — the
composition here keeps every stage lazy so small/medium corpora run as
one job; callers at scale insert `sinks`/`lineage` barriers between
stages exactly as `run_flagship` does for the raster pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators import bpe as bpe_ops
from ..operators import dedup, packing, selection


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    blocklist: DataFrame | None = None,
    ctx_len: int = 2048,
    n_shards: int = 8,
    n_merges: int = 300,
    train_sample_mod: int = 50,
    max_train_words: int = 200_000,
    decontam_n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    url_col: str = "url",
    tokenizer: str = "bpe",
) -> dict[str, DataFrame]:
    """Run the full curation chain on a (doc_id, text) corpus.

    Returns a dict of DataFrames (all lazy except the two bounded fits):
      kept      (doc_id, text) survivors of every filter stage
      audit     (doc_id, url_blocked, keep_quality, is_canonical,
                contaminated, kept) — one row per input doc: why each
                doc lived or died (NULL = the doc never reached that
                stage, or the stage was not configured)
      tokens    (doc_id, n_tokens, token_ids) for kept docs
      contexts  pack_sequences manifest over the real token counts
      vocab     (token, token_id) fitted BPE vocabulary

    With a `blocklist` (domain suffix table, see
    `selection.filter_url_blocklist`) a stage-0 URL filter runs before
    any text is touched — the cheapest kill happens first. The
    tokenizer trains on a deterministic 1/`train_sample_mod`
    hash-sample of the KEPT corpus (never the rejected docs), mirroring
    the fit-on-clean-data convention; `pack_sequences` consumes the
    tokenizer's true `n_tokens` via `len_col`, so packed contexts cut
    exactly at real token boundaries rather than the whitespace
    estimate.
    """
    base = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
    )

    # 0. URL blocklist (optional): drop before any text-sized work
    if blocklist is not None:
        blocked = selection.filter_url_blocklist(
            docs, blocklist, url_col=url_col, id_col=id_col
        ).select("doc_id", F.col("blocked").alias("url_blocked"))
        base = base.join(
            blocked.where("url_blocked").select("doc_id"), "doc_id", "left_anti"
        )
    else:
        blocked = None

    # 1. quality gate (keep flag per rule; audit carries the verdict)
    quality = selection.gopher_rules(base, text_col="text", id_col="doc_id")
    q_keep = quality.select("doc_id", F.col("keep").alias("keep_quality"))
    gated = base.join(q_keep.where("keep_quality"), "doc_id", "inner").select(
        "doc_id", "text"
    )

    # 2. near-duplicate collapse: keep only cluster canonicals
    assign = dedup.minhash_dedup_assign(gated, text_col="text", id_col="doc_id")
    canon = assign.where(F.col("doc_id") == F.col("canonical_id")).select("doc_id")
    deduped = gated.join(canon, "doc_id", "left_semi")

    # 3. benchmark decontamination (optional)
    if benchmark is not None:
        dec = dedup.decontaminate(
            deduped, benchmark, n=decontam_n, text_col="text", id_col="doc_id"
        )
        clean_ids = dec.where(~F.col("contaminated")).select("doc_id")
        kept = deduped.join(clean_ids, "doc_id", "left_semi")
        contaminated_col = dec.select("doc_id", "contaminated")
    else:
        kept = deduped
        contaminated_col = None

    # 4. tokenizer fit on a hash-bounded sample of the KEPT corpus,
    #    then the shuffle-free encode pass (`tokenizer` selects BPE or
    #    the unigram LM; for unigram, n_merges caps the vocab size the
    #    same way it caps the merge count)
    if tokenizer not in ("bpe", "unigram"):
        raise ValueError("tokenizer must be 'bpe' or 'unigram'")
    sample = kept.where(
        F.pmod(F.xxhash64("doc_id"), F.lit(int(train_sample_mod))) == 0
    )
    if tokenizer == "bpe":
        merges, vocab = bpe_ops.bpe_train(
            sample, n_merges=n_merges, max_words=max_train_words
        )
        tokens = bpe_ops.bpe_encode(kept, merges, vocab)
    else:
        from ..operators import unigram as uni_ops

        _, vocab = uni_ops.unigram_train(
            sample, vocab_size=n_merges, max_words=max_train_words
        )
        tokens = uni_ops.unigram_encode(kept, vocab)
        vocab = vocab.select("token", "token_id")

    # 5. pack on REAL token counts (text never re-enters the plan)
    contexts = packing.pack_sequences(
        tokens.select("doc_id", "n_tokens"),
        ctx_len=ctx_len,
        n_shards=n_shards,
        len_col="n_tokens",
    )

    audit = (
        docs.select(F.col(id_col).cast("long").alias("doc_id"))
        .join(
            blocked
            if blocked is not None
            else docs.select(
                F.col(id_col).cast("long").alias("doc_id"),
                F.lit(None).cast("boolean").alias("url_blocked"),
            ),
            "doc_id",
            "left",
        )
        .join(q_keep, "doc_id", "left")
        .join(
            assign.select(
                "doc_id",
                (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
            ),
            "doc_id",
            "left",
        )
    )
    if contaminated_col is not None:
        audit = audit.join(contaminated_col, "doc_id", "left")
    else:
        audit = audit.withColumn("contaminated", F.lit(None).cast("boolean"))
    audit = audit.select(
        "doc_id",
        "url_blocked",  # NULL = no blocklist configured
        # NULL keep_quality = killed before the gate (blocked URL)
        F.when(
            F.coalesce("url_blocked", F.lit(False)), F.lit(None).cast("boolean")
        ).otherwise(F.coalesce("keep_quality", F.lit(False))).alias("keep_quality"),
        "is_canonical",  # NULL = never reached dedup
        "contaminated",  # NULL = never reached decontamination / no benchmark
        (
            ~F.coalesce("url_blocked", F.lit(False))
            & F.coalesce("keep_quality", F.lit(False))
            & F.coalesce("is_canonical", F.lit(False))
            & ~F.coalesce("contaminated", F.lit(False))
        ).alias("kept"),
    )

    return {
        "kept": kept,
        "audit": audit,
        "tokens": tokens,
        "contexts": contexts,
        "vocab": vocab,
    }


def curate_corpus_staged(
    spark,
    docs: DataFrame,
    fingerprint: str,
    benchmark: DataFrame | None = None,
    root: str | None = None,
    ctx_len: int = 2048,
    n_shards: int = 8,
    n_merges: int = 300,
    train_sample_mod: int = 50,
    max_train_words: int = 200_000,
    decontam_n: int = 8,
) -> dict[str, DataFrame]:
    """Checkpointed/resumable curation: the 100 TB shape of
    `curate_corpus`. Every stage materializes through
    `lineage.run_with_lineage` — parquet output + completion marker +
    one lineage row per partition — so an interrupted run resumes at
    the first incomplete stage and completed stages never recompute
    (the north-rule checkpoint contract, same machinery as the raster
    flagship's `plans/lineage.py`).

    `fingerprint` must identify the input corpus version; each stage
    extends it with the parameters that stage depends on, so changing
    e.g. `ctx_len` recomputes packing but reuses gate/dedup/tokens.
    Returns the same dict as `curate_corpus` plus `lineage` (the
    union of all stages' per-partition metrics rows).
    """
    from . import lineage as L

    kw = {} if root is None else {"root": root}
    base = docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text")

    gated, lin1 = L.run_with_lineage(
        spark, "curate_gate", fingerprint,
        lambda: base.join(
            selection.gopher_rules(base).where("keep").select("doc_id"),
            "doc_id", "left_semi",
        ),
        key_col="doc_id", **kw,
    )
    deduped, lin2 = L.run_with_lineage(
        spark, "curate_dedup", fingerprint,
        lambda: gated.join(
            dedup.minhash_dedup_assign(gated)
            .where(F.col("doc_id") == F.col("canonical_id"))
            .select("doc_id"),
            "doc_id", "left_semi",
        ),
        key_col="doc_id", **kw,
    )
    if benchmark is not None:
        kept, lin3 = L.run_with_lineage(
            spark, "curate_clean", f"{fingerprint}_n{decontam_n}",
            lambda: deduped.join(
                dedup.decontaminate(deduped, benchmark, n=decontam_n)
                .where(~F.col("contaminated"))
                .select("doc_id"),
                "doc_id", "left_semi",
            ),
            key_col="doc_id", **kw,
        )
    else:
        kept, lin3 = deduped, None

    # tokenizer model is itself a (tiny) checkpointed stage: rank-ordered
    # merge rows, so a resumed run re-reads the fitted model instead of
    # re-running the driver merge loop
    model_fp = f"{fingerprint}_m{n_merges}_s{train_sample_mod}_w{max_train_words}"

    def _fit_model() -> DataFrame:
        sample = kept.where(
            F.pmod(F.xxhash64("doc_id"), F.lit(int(train_sample_mod))) == 0
        )
        merges_, vocab_ = bpe_ops.bpe_train(
            sample, n_merges=n_merges, max_words=max_train_words
        )
        # one table holds the whole model: merge rows (rank order) AND
        # the full vocab rows — the char inventory is training-corpus
        # state that cannot be re-derived from the merges alone
        m = spark.createDataFrame(
            [("merge", i, a, b, None) for i, (a, b) in enumerate(merges_)],
            "kind string, rank long, a string, b string, token_id long",
        )
        v = vocab_.select(
            F.lit("vocab").alias("kind"),
            F.col("token_id").alias("rank"),
            F.col("token").alias("a"),
            F.lit(None).cast("string").alias("b"),
            "token_id",
        )
        return m.unionByName(v)

    model_df, lin4 = L.run_with_lineage(
        spark, "curate_tok_model", model_fp, _fit_model, key_col="rank", **kw
    )
    rows = model_df.collect()
    merges = [
        (r["a"], r["b"])
        for r in sorted(
            (r for r in rows if r["kind"] == "merge"), key=lambda r: r["rank"]
        )
    ]
    vocab = spark.createDataFrame(
        [(r["a"], r["token_id"]) for r in rows if r["kind"] == "vocab"],
        "token string, token_id long",
    )

    tokens, lin5 = L.run_with_lineage(
        spark, "curate_tokens", model_fp,
        lambda: bpe_ops.bpe_encode(kept, merges, vocab),
        key_col="doc_id", **kw,
    )
    contexts, lin6 = L.run_with_lineage(
        spark, "curate_pack", f"{model_fp}_c{ctx_len}_sh{n_shards}",
        lambda: packing.pack_sequences(
            tokens.select("doc_id", "n_tokens"),
            ctx_len=ctx_len, n_shards=n_shards, len_col="n_tokens",
        ),
        key_col="doc_id", **kw,
    )

    lin = lin1.unionByName(lin2).unionByName(lin4).unionByName(lin5).unionByName(lin6)
    if lin3 is not None:
        lin = lin.unionByName(lin3)
    return {
        "kept": kept,
        "tokens": tokens,
        "contexts": contexts,
        "vocab": vocab,
        "lineage": lin,
    }
