"""Curation pass: what a training-data pipeline emits after
extraction — one composer, :func:`curated_corpus`, over a tuple of
legs. The contract capstones are the five leg tuples below (q36
``V1``, q57 ``V2``, q65 ``V3``, q73 ``V4``, q79 ``V5``); a new leg is
one guarded block in the composer's fixed order, not a new wrapper.

Legs, in plan order:

- ``quality``/``exact``/``minhash`` (always on): survivors clear the
  quality threshold, are the canonical copy of their exact-duplicate
  group, and are not the higher id of a verified near-duplicate pair.
  Near-dup pairs come from the banded MinHash-LSH scale path
  (``operators.dedup.minhash_lsh_pairs``) — candidates only, never the
  all-pairs shingle self-join (``ngram_jaccard_pairs`` is the
  correctness baseline, not the plan to run on a corpus).
- ``contamination``: drop docs sharing a word n-gram with
  ``benchmark`` (its shingle set broadcasts).
- ``granule``: corpus-level granule-dedup stats ride each survivor
  (winners partial-aggregate).
- ``embedding``: drop the higher id of each cosine-near-dup pair of
  ``emb`` (``(vec_id, embedding)`` keyed like the doc ids) — the
  semantic family: paraphrases that share almost no word shingles
  still collide in embedding space. The sign-LSH-bucketed twin (q64)
  runs within-bucket BLAS only, never the all-pairs product.
- ``span``: survivors get their duplicated SPANS removed
  (``operators.span_dedup``, Lee et al. substring dedup at word-gram
  granularity) computed WITHIN the surviving set, so a span whose only
  other copy was already curated away is kept. Adds (n_words,
  n_removed, span_md5); span_md5 hashes the byte-exact surviving text
  (the q54 dedup_md5 convention keeps the contract row narrow).
- ``lm``: CCNet LM-perplexity bucketing (``operators.lm``) drops the
  ``tail`` tercile — the gibberish/boilerplate the rule-based quality
  leg cannot see (rules catch FORM, the LM catches unpredictable
  CONTENT). Survivors carry ``ppl_bucket`` for mixture weighting.
  Scoring work for curated-away docs vanishes at the final join, and
  ``empty`` docs (no tokens) were already gone at the quality leg.

Scale notes (10^12 docs): ONE narrow ``(doc_id, lang, text)``
projection of the source table is persisted (MEMORY_AND_DISK — spills,
never OOMs) and read by every leg, so the wide source table is scanned
once per capstone plan — not once per leg (plan-asserted in
``tests/test_plans.py``). Exact dedup is a partial-aggregating
``groupBy(fp)`` + join-back — hot duplicate groups collapse map-side
and the join is AQE-skew-splittable (the window-over-fp shape was
removed in round 5: a window funnels a 10^8-row duplicate group
through one task with no remedy). One shingle explode is persisted
across the LSH signature/verify consumers; the near-dup loser set is
tiny relative to the corpus, so its anti-join broadcasts under AQE.
Every persist stays cached until the query's scope is released
(``persist.release``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ai_pdf_extraction_spark.operators.dedup import (
    _ensure_parallel,
    contamination_flags,
    embedding_near_dup_pairs_lsh,
    exact_dedup,
    granule_dedup,
    mark_parallel_balanced,
    minhash_lsh_pairs,
)
from ai_pdf_extraction_spark.operators.lm import lm_perplexity
from ai_pdf_extraction_spark.operators.span_dedup import span_dedup
from ai_pdf_extraction_spark.operators.text_analysis import quality_score, token_count
from ai_pdf_extraction_spark.persist import persist

V1 = ("quality", "exact", "minhash")
V2 = V1 + ("contamination", "granule")
V3 = V2 + ("embedding",)
V4 = V3 + ("span",)
V5 = V4 + ("lm",)


def _narrow_docs(docs: DataFrame) -> DataFrame:
    """The persisted narrow ``(doc_id, lang, text)`` projection every
    leg reads; ``lang`` is null when ``docs`` has none. Rebalanced once
    here (``_ensure_parallel``) and then marked so the per-leg guards
    skip their own repartition shuffles."""
    lang = (
        F.col("lang")
        if "lang" in docs.columns
        else F.lit(None).cast("string").alias("lang")
    )
    narrow = _ensure_parallel(docs.select("doc_id", lang, "text"), "doc_id")
    return mark_parallel_balanced(persist(narrow))


def _losers(pairs: DataFrame) -> DataFrame:
    return pairs.select(F.col("id_b").alias("doc_id")).distinct()


def curated_corpus(
    docs: DataFrame,
    legs: tuple[str, ...] = V1,
    benchmark: DataFrame | None = None,
    emb: DataFrame | None = None,
    *,
    quality_threshold: float = 0.5,
    jaccard_threshold: float = 0.8,
    contamination_n: int = 13,
    cos_threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    span_k: int = 8,
) -> DataFrame:
    """Compose the curation ``legs`` (module doc) over ``docs``
    ``(doc_id, [lang,] text)``. ``contamination`` needs ``benchmark``
    ``(bench_id, text)``; ``embedding`` needs ``emb``. Output:
    (doc_id, lang, quality, n_tokens), plus (n_granules, n_kept) with
    ``granule``, (n_words, n_removed, span_md5) with ``span`` and
    ppl_bucket with ``lm``."""
    narrow = _narrow_docs(docs)
    scored = narrow.select(
        "doc_id",
        "lang",
        quality_score("text").alias("quality"),
        token_count("text").alias("n_tokens"),
    )
    canon = exact_dedup(narrow).filter(~F.col("is_dup")).select("doc_id")
    near_losers = _losers(minhash_lsh_pairs(narrow, threshold=jaccard_threshold))
    out = (
        scored.join(canon, "doc_id")
        .join(near_losers, "doc_id", "left_anti")
        .filter(F.col("quality") >= quality_threshold)
    )
    if "contamination" in legs:
        contaminated = (
            contamination_flags(narrow, benchmark, n=contamination_n)
            .filter(F.col("contaminated"))
            .select("doc_id")
        )
        out = out.join(contaminated, "doc_id", "left_anti")
    if "granule" in legs:
        out = out.join(
            granule_dedup(narrow).select("doc_id", "n_granules", "n_kept"),
            "doc_id",
        )
    if "embedding" in legs:
        emb_losers = _losers(
            embedding_near_dup_pairs_lsh(
                emb, threshold=cos_threshold, n_planes=n_planes, dim=dim
            )
        )
        out = out.join(emb_losers, "doc_id", "left_anti")
    if "span" in legs:
        # the survivors feed BOTH the semi-join below and the final
        # join — persist or every leg before this one executes twice
        out = persist(out)
        # the span leg reads the SAME narrow projection (joining the raw
        # docs reintroduced a second full text-column scan, review r7);
        # the semi-join (broadcast probe side) keeps its balanced
        # partitioning, so mark it and span_dedup doesn't re-shuffle
        survivors = mark_parallel_balanced(
            narrow.join(out.select("doc_id"), "doc_id", "left_semi")
        )
        spans = span_dedup(survivors, k=span_k).select(
            "doc_id",
            "n_words",
            "n_removed",
            F.md5("surviving_text").alias("span_md5"),
        )
        out = out.join(spans, "doc_id")
    if "lm" in legs:
        lm = (
            lm_perplexity(narrow)
            .filter(F.col("ppl_bucket").isin("head", "middle"))
            .select("doc_id", "ppl_bucket")
        )
        out = out.join(lm, "doc_id")
    return out
