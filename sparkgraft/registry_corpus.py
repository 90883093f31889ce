"""Corpus-curation query registrations (ext/corpus.py operators).

Oracle dialect fragments are imported from registry_ext so the tokenizer /
hash64 / shingle constructions stay character-identical to the Spark
expressions they mirror (see registry_ext.py module docstring for the
DuckDB dialect notes).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkgraft.ext import corpus
from sparkgraft.io.readers import read_table
from sparkgraft.ops.materialize import materialize, sorted_output
from sparkgraft.registry import register
from sparkgraft.registry_ext import _TOK, _hash64_d, _shingles_d

#: benchmark probe phrases (4-word sequences drawn from the corpus vocab so
#: the decontamination path is exercised non-trivially at every SF)
BENCHMARK_PHRASES: tuple[str, ...] = (
    "filter value small value",
    "value slow hash data",
    "slow small scan key",
)


def _t(spark, sf_dir, name):
    return read_table(spark, sf_dir, name)


_PHRASE_LIST_SQL = ", ".join(f"'{p}'" for p in BENCHMARK_PHRASES)


@register(
    "corpus_decontaminate",
    f"""
    WITH tok AS (SELECT doc_id, lang, source, {_TOK} AS t FROM documents),
    sh AS (SELECT doc_id, unnest({_shingles_d('t', 4)}) AS sh FROM tok),
    bench_tok AS (SELECT {_TOK.replace('text', 'phrase')} AS t
                  FROM (SELECT unnest([{_PHRASE_LIST_SQL}]) AS phrase)),
    bench AS (SELECT DISTINCT unnest({_shingles_d('t', 4)}) AS sh FROM bench_tok),
    bad AS (SELECT DISTINCT doc_id FROM sh WHERE sh IN (SELECT sh FROM bench))
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM bad)
    ORDER BY doc_id
    """,
)
def q_corpus_decontaminate(spark, sf_dir):
    """Benchmark decontamination: drop docs sharing any word 4-gram with
    the benchmark phrases. Contaminated ids resolve via a broadcast semi
    join on shingles; the corpus anti-joins on id — it never shuffles on
    text (ext/corpus.decontaminate)."""
    docs = _t(spark, sf_dir, "documents")
    bench = corpus.benchmark_shingles(spark, BENCHMARK_PHRASES, n=4)
    return sorted_output(
        corpus.decontaminate(docs, bench, n=4)
        .select("doc_id", "lang", "source"),
        "doc_id",
    )


@register(
    "corpus_sample_hash",
    f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_hash64_d('CAST(doc_id AS VARCHAR)')} % 100 < 10
    ORDER BY doc_id
    """,
)
def q_corpus_sample_hash(spark, sf_dir):
    """Deterministic 10% train/holdout split via md5-bucket of the id —
    stable under repartitioning, unlike seeded df.sample()
    (ext/corpus.hash_sample)."""
    docs = _t(spark, sf_dir, "documents")
    return corpus.hash_sample(docs, 10).select("doc_id", "lang").orderBy("doc_id")


@register(
    "corpus_priority_sample",
    f"""
    WITH pri AS (
      SELECT doc_id, lang,
             CAST(length(text) AS DOUBLE)
               / (CAST(({_hash64_d('CAST(doc_id AS VARCHAR)')}) + 1 AS DOUBLE)
                  / 1152921504606846976.0) AS q
      FROM documents)
    SELECT doc_id, lang FROM pri
    ORDER BY q DESC, doc_id
    LIMIT 100
    """,
)
def q_corpus_priority_sample(spark, sf_dir):
    """Deterministic weighted sample (k=100, weight = doc length) via
    priority sampling q = w/u — weight-proportional without-replacement
    selection as one TakeOrderedAndProject, exactly reproducible in the
    oracle because q is a single IEEE division (ext/corpus.priority_sample).
    """
    docs = _t(spark, sf_dir, "documents")
    return corpus.priority_sample(docs, 100, F.length("text")).select("doc_id", "lang")


@register(
    "corpus_pack_sequences",
    f"""
    WITH tok AS (SELECT source, doc_id, CAST(len({_TOK}) AS BIGINT) AS n_tokens
                 FROM documents)
    SELECT source, doc_id, n_tokens,
           CAST(floor((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens) / 256.0) AS BIGINT) AS seq_id
    FROM tok
    ORDER BY source, doc_id
    """,
)
def q_corpus_pack_sequences(spark, sf_dir):
    """Sequence packing: docs → fixed-capacity (256-token) bins per source
    by exclusive-prefix-sum of token counts (ext/corpus.pack_sequences).
    Runs the giant-source PRESPLIT path (two-level prefix sum over doc_id
    chunks) so the driver row proves the scale shape — seq_ids are
    bit-identical to the single-window form, as the oracle's global
    cumsum checks directly."""
    docs = _t(spark, sf_dir, "documents")
    out = corpus.pack_sequences(docs, capacity=256, presplit_chunk=1 << 20)
    return sorted_output(out.select(
        "source",
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "seq_id",
    ), "source", "doc_id")


@register(
    "corpus_interleave",
    """
    WITH pos AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS pos
      FROM documents)
    SELECT doc_id, source, pos,
           row_number() OVER (ORDER BY pos, source, doc_id) AS mix_rank
    FROM pos
    ORDER BY mix_rank
    """,
)
def q_corpus_interleave(spark, sf_dir):
    """Deterministic round-robin source mixing: position i of every source
    precedes position i+1 of any source (ext/corpus.interleave_sources)."""
    docs = _t(spark, sf_dir, "documents")
    return corpus.interleave_sources(docs).orderBy("mix_rank")


@register(
    "corpus_curation_topk",
    f"""
    WITH tok AS (SELECT lang, source, doc_id,
                        CAST(len({_TOK}) AS BIGINT) AS n_tokens
                 FROM documents),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY lang, source
                                   ORDER BY n_tokens DESC, doc_id) AS rk
      FROM tok)
    SELECT lang, source, doc_id, n_tokens, rk
    FROM ranked WHERE rk <= 3
    ORDER BY lang, source, rk
    """,
)
def q_corpus_curation_topk(spark, sf_dir):
    """Per-(lang, source) quota cut: keep the 3 longest docs, doc_id
    tiebreak (ext/corpus.curation_topk)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        corpus.curation_topk(docs, k=3)
        .select(
            "lang",
            "source",
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("rk").cast("bigint").alias("rk"),
        )
        .orderBy("lang", "source", "rk")
    )


@register(
    "corpus_quality_funnel",
    f"""
    SELECT s.stage,
           CASE s.stage
             WHEN '0_raw' THEN (SELECT count(*) FROM documents)
             WHEN '1_lang' THEN (SELECT count(*) FROM documents WHERE lang = 'en')
             WHEN '2_minlen' THEN (SELECT count(*) FROM documents
                                   WHERE lang = 'en' AND len({_TOK}) >= 20)
             ELSE (SELECT count(DISTINCT text) FROM documents
                   WHERE lang = 'en' AND len({_TOK}) >= 20)
           END AS n_docs
    FROM (SELECT unnest(['0_raw', '1_lang', '2_minlen', '3_dedup']) AS stage) s
    ORDER BY s.stage
    """,
)
def q_corpus_quality_funnel(spark, sf_dir):
    """Curation-funnel accounting: raw → lang → min-length → exact-dedup
    survivor counts, computed in ONE corpus pass
    (ext/corpus.quality_funnel)."""
    docs = _t(spark, sf_dir, "documents")
    return corpus.quality_funnel(docs, min_tokens=20, lang="en")


@register(
    "corpus_split_assign",
    f"""
    SELECT doc_id, lang,
           CASE WHEN {_hash64_d('CAST(doc_id AS VARCHAR)')} % 100 < 5 THEN 'test'
                WHEN {_hash64_d('CAST(doc_id AS VARCHAR)')} % 100 < 10 THEN 'val'
                ELSE 'train' END AS split
    FROM documents
    ORDER BY doc_id
    """,
)
def q_corpus_split_assign(spark, sf_dir):
    """Leakage-safe train/val/test assignment by portable hash bucket of
    the split key (ext/corpus.split_assign) — key on the grouping unit
    (user, domain, dedup cluster) in production so near-dups never
    straddle splits; zero shuffle, stable across reruns and engines."""
    docs = _t(spark, sf_dir, "documents")
    return (
        corpus.split_assign(docs, val_pct=5, test_pct=5)
        .select("doc_id", "lang", "split")
        .orderBy("doc_id")
    )


@register(
    "corpus_ngram_topk",
    f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, unnest({_shingles_d('t', 3)}) AS sh FROM tok),
    freq AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
    topk AS (SELECT sh, df FROM freq ORDER BY df DESC, sh LIMIT 50)
    SELECT sh, df, dense_rank() OVER (ORDER BY df DESC) AS rank
    FROM topk
    ORDER BY df DESC, sh
    """,
)
def q_corpus_ngram_topk(spark, sf_dir):
    """Corpus-wide hottest word 3-grams by document frequency
    (ext/corpus.ngram_topk) — the boilerplate-mining relation the jaccard
    auto-selector summarizes; map-side-combined count + top-k heap."""
    docs = _t(spark, sf_dir, "documents")
    return corpus.ngram_topk(docs, k=50, n=3).orderBy(
        F.col("df").desc(), "sh"
    )


@register(
    "corpus_contamination_score",
    f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, unnest({_shingles_d('t', 4)}) AS sh FROM tok),
    bench_tok AS (SELECT {_TOK.replace('text', 'phrase')} AS t
                  FROM (SELECT unnest([{_PHRASE_LIST_SQL}]) AS phrase)),
    bench AS (SELECT DISTINCT unnest({_shingles_d('t', 4)}) AS sh FROM bench_tok),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
    hits AS (SELECT doc_id, count(*) AS n_contaminated FROM sh
             WHERE sh IN (SELECT sh FROM bench) GROUP BY doc_id)
    SELECT s.doc_id,
           s.n_shingles,
           COALESCE(h.n_contaminated, 0) AS n_contaminated,
           round(COALESCE(h.n_contaminated, 0) / s.n_shingles, 6) AS contamination
    FROM sizes s LEFT JOIN hits h USING (doc_id)
    ORDER BY s.doc_id
    """,
)
def q_corpus_contamination_score(spark, sf_dir):
    """Graded decontamination: per-doc fraction of distinct word 4-grams
    hitting the benchmark probe set (ext/corpus.contamination_score) —
    the soft-threshold/audit variant of corpus_decontaminate, same
    broadcast-probe scale shape."""
    docs = _t(spark, sf_dir, "documents")
    bench = corpus.benchmark_shingles(spark, BENCHMARK_PHRASES, n=4)
    return sorted_output(corpus.contamination_score(docs, bench, n=4), "doc_id")


@register(
    "corpus_stratified_sample",
    f"""
    WITH ranked AS (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (
               PARTITION BY lang, source
               ORDER BY {_hash64_d('CAST(doc_id AS VARCHAR)')}, doc_id
             ) AS rk
      FROM documents)
    SELECT doc_id, lang, source FROM ranked
    WHERE rk <= 20
    ORDER BY doc_id
    """,
)
def q_corpus_stratified_sample(spark, sf_dir):
    """Exact per-stratum quotas (20 docs per lang×source), deterministic
    via portable id-hash ranking (ext/corpus.stratified_sample) — exact
    counts where Bernoulli sampleBy only holds in expectation."""
    docs = _t(spark, sf_dir, "documents")
    return (
        corpus.stratified_sample(docs, quota=20, strata=("lang", "source"))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


@register(
    "corpus_chunk_dedup",
    f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    ch AS (SELECT doc_id, i AS ci,
                  -- coalesce to '' for an EMPTY slice (an empty doc's one
                  -- degenerate chunk): Spark's array_join([], ' ') is '',
                  -- DuckDB's array_to_string([], ' ') is NULL — the ''
                  -- chunk participates in boilerplate counting like any
                  -- other, so >=3 empty docs scrub to clean_text = '' on
                  -- both engines.  NULL-text docs keep a NULL chunk (the
                  -- CASE guard), never boilerplate, surviving unscathed.
                  CASE WHEN t IS NULL THEN NULL
                       ELSE coalesce(array_to_string(t[(i*3+1):(i*3+3)], ' '),
                                     '') END AS chunk
           FROM tok,
                unnest(range(greatest(CAST(ceil(len(t)/3.0) AS BIGINT), 1))) AS u(i)),
    bp AS (SELECT chunk FROM (
             SELECT chunk, count(DISTINCT doc_id) AS df FROM ch GROUP BY chunk)
           WHERE df >= 3),
    mk AS (SELECT ch.doc_id, ch.ci, ch.chunk, (bp.chunk IS NOT NULL) AS is_bp
           FROM ch LEFT JOIN bp ON ch.chunk = bp.chunk)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           coalesce(string_agg(CASE WHEN NOT is_bp THEN chunk END, ' ' ORDER BY ci),
                    '') AS clean_text
    FROM mk GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_corpus_chunk_dedup(spark, sf_dir):
    """CCNet/RefinedWeb-style boilerplate scrub: fixed-width 3-word segments,
    drop segments whose document frequency >= 3, reassemble survivors in
    order (ext/corpus.chunk_boilerplate_scrub).  The line-level-dedup step
    of every web-corpus build, adapted to newline-free docs; every doc
    survives (possibly with clean_text = '')."""
    docs = _t(spark, sf_dir, "documents")
    return corpus.chunk_boilerplate_scrub(docs, chunk=3, min_df=3).orderBy("doc_id")


# ---------------------------------------------------------------------------
# pyspark.ml LSH variants.  JVM hash families aren't SQL-expressible, so the
# raw pair/neighbor relations can never hash-match DuckDB — but (same move
# as wau_sketch_weekly / value_quantiles_approx, registry.py) their RECALL
# vs the exact operators is deterministic at a fixed seed and hashable.
# Each query computes BOTH the ML-LSH path and the exact path and emits the
# exact side plus within-tolerance booleans the oracle asserts as constants;
# an estimator regression (seed drift, bucket mishandling) flips a boolean
# and the driver row goes red.  Bounds mirror tests/test_ml_lsh.py.
# ---------------------------------------------------------------------------

def _ml_minhash_audit_oracle() -> str:
    from sparkgraft.registry_ext import _JACCARD_SELECT, _SHINGLE_SET_CTES

    return (
        _SHINGLE_SET_CTES
        + """,
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_inter
      FROM ds a JOIN ds b ON a.sh = b.sh AND a.doc < b.doc
      GROUP BY 1, 2),
    exact AS ("""
        + _JACCARD_SELECT.format(thr=0.5)
        + """)
    SELECT count(*) AS n_exact_pairs,
           TRUE AS recall_ok,
           TRUE AS spurious_ok
    FROM exact
    """
    )


@register("ml_minhash_pairs", _ml_minhash_audit_oracle())
def q_ml_minhash_pairs(spark, sf_dir):
    """MinHashLSH.approxSimilarityJoin (ext/ml_lsh.ml_minhash_pairs — the
    Spark-ML twin of dedup_minhash_lsh) audited against the exact 3-gram
    Jaccard pairs in one relation: (exact pair count, recall >= 0.9,
    spurious pairs <= max(2, exact count)).  One full-outer join of the two
    pair sets + one aggregate; no driver-side set math."""
    from sparkgraft.ext import dedup, ml_lsh

    docs = _t(spark, sf_dir, "documents")
    # ONE tokenize+shingle pass feeds BOTH sides (guide §2.3 — don't compute
    # things twice): the exact-Jaccard legs and the Spark-ML HashingTF
    # features all derive from the same materialized (doc, sh) relation.
    # Jaccard and binary HashingTF depend only on the distinct shingle-set
    # content, so both sides are bit-identical to their standalone forms.
    ds = materialize(dedup.doc_shingles(docs))
    exact = dedup.ngram_jaccard_pairs(docs, threshold=0.5, shingles=ds).select(
        "doc_a", "doc_b", F.lit(1).alias("in_exact")
    )
    got = ml_lsh.ml_minhash_pairs(docs, threshold=0.5, shingles=ds).select(
        "doc_a", "doc_b", F.lit(1).alias("in_ml")
    )
    j = exact.join(got, ["doc_a", "doc_b"], "full_outer")
    return j.agg(
        F.count("in_exact").alias("n_exact"),
        F.count(F.when(F.col("in_exact").isNotNull() & F.col("in_ml").isNotNull(), 1)).alias(
            "n_hit"
        ),
        F.count(F.when(F.col("in_exact").isNull(), 1)).alias("n_extra"),
    ).select(
        F.col("n_exact").alias("n_exact_pairs"),
        (F.col("n_hit") >= 0.9 * F.col("n_exact")).alias("recall_ok"),
        (F.col("n_extra") <= F.greatest(F.lit(2), F.col("n_exact"))).alias("spurious_ok"),
    )


def _ml_ann_audit_oracle() -> str:
    from sparkgraft.registry_ext import _EMB_FINITE, _cos_d

    return f"""
    WITH q AS (SELECT embedding AS qv FROM {_EMB_FINITE} WHERE vec_id = 0),
    c AS (SELECT vec_id AS cid, embedding AS cv FROM {_EMB_FINITE} WHERE vec_id <> 0),
    scored AS (SELECT cid, {_cos_d('qv', 'cv')} AS cosine FROM q CROSS JOIN c)
    SELECT cid, cosine, TRUE AS ann_overlap_ok
    FROM (SELECT *, row_number() OVER (ORDER BY cosine DESC, cid) AS rn FROM scored)
    WHERE rn <= 10
    """


@register("ml_ann_neighbors", _ml_ann_audit_oracle())
def q_ml_ann_neighbors(spark, sf_dir):
    """BucketedRandomProjectionLSH.approxNearestNeighbors
    (ext/ml_lsh.ml_ann_neighbors — the Spark-ML twin of embed_lsh_topk)
    audited against the exact cosine top-10 of vec_id 0: emits the EXACT
    neighbor list (hashable) plus a replicated boolean asserting the ANN
    result overlaps it in >= 6 of 10 slots (unit-norm embeddings: euclidean
    rank == cosine rank).  Finite-embedding domain declared
    (simsearch.finite_vectors)."""
    from sparkgraft.ext import ml_lsh, simsearch

    emb = simsearch.finite_vectors(_t(spark, sf_dir, "embeddings"))
    exact = simsearch.brute_force_topk(emb, F.col("vec_id") == 0, k=10).select("cid", "cosine")
    ml = ml_lsh.ml_ann_neighbors(emb, query_vec_id=0, k=10).select(
        F.col("vec_id").alias("cid")
    )
    ov = exact.join(ml, "cid", "left_semi").agg(F.count(F.lit(1)).alias("n_ov"))
    return (
        exact.crossJoin(F.broadcast(ov))
        .select("cid", "cosine", (F.col("n_ov") >= 6).alias("ann_overlap_ok"))
        .orderBy(F.col("cosine").desc(), "cid")
    )


def _e2e_oracle() -> str:
    from sparkgraft.registry_ext import _STOP_D

    return rf"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    feat AS (
      SELECT d.doc_id,
             len(t) AS n_tok,
             length(trim(text)) AS n_chars,
             length(regexp_replace(lower(trim(text)), '[^a-z]', '', 'g')) AS alpha,
             len(list_filter(t, x -> list_contains({_STOP_D}, x))) AS stop_hits,
             len(list_distinct(t)) AS n_dis,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      FROM documents d JOIN tok USING (doc_id)),
    scored AS (
      SELECT doc_id, fp,
             CAST(n_tok AS BIGINT) AS n_tokens,
             round(0.4 * (alpha / CAST(n_chars AS DOUBLE))
                   + 0.3 * least(1.0, n_tok / 100.0)
                   + 0.3 * least(1.0, 3.0 * (stop_hits / CAST(n_tok AS DOUBLE))), 6)
                 AS quality_score,
             CASE WHEN n_tok > 0 THEN round(1 - n_dis / n_tok, 6)
                  ELSE 0.0 END AS rep_ratio
      FROM feat),
    keep AS (SELECT min(doc_id) AS doc_id FROM scored GROUP BY fp)
    SELECT s.doc_id, s.n_tokens, s.quality_score, s.rep_ratio
    FROM scored s JOIN keep USING (doc_id)
    WHERE s.n_tokens >= 40 AND s.quality_score >= 0.3 AND s.rep_ratio <= 0.9
    ORDER BY s.doc_id
    """


@register("corpus_e2e_curation", _e2e_oracle())
def q_corpus_e2e_curation(spark, sf_dir):
    """End-to-end training-data curation in ONE query: tokenize -> quality
    score -> repetition screen -> normalized exact dedup -> filter chain,
    emitting the kept docs with their audit features.

    The flagship composability demo: every per-doc feature (tokens,
    quality, repetition, fingerprint) is computed in ONE select, so the
    whole screen fuses into a single codegen'd map over each scan; the
    only shuffle is the fingerprint dedup groupBy plus its broadcast
    keep-min semi join (both on the md5 fingerprint, not text). Plan:
    two scan passes (screen + dedup build), one hash exchange — the same
    pipeline a multi-job curation DAG runs, minus the intermediate
    materializations.
    """
    from sparkgraft.ext import text as textmod
    from sparkgraft.ext.text import _TOKENS_SQL, STOPWORDS, _count_in_set

    docs = _t(spark, sf_dir, "documents")
    # every feature in ONE select so the screen is a single fused map pass
    # (joining quality_features/repetition_stats outputs would scan the
    # corpus three times)
    t = _TOKENS_SQL.format(col="text")
    n_tok = f"size({t})"
    alpha = "length(regexp_replace(lower(trim(text)), '[^a-z]', ''))"
    stop_hits = _count_in_set(t, STOPWORDS)
    feats = docs.select(
        "doc_id",
        F.expr(f"CAST({n_tok} AS BIGINT)").alias("n_tokens"),
        # try_divide, same rationale as ext/text.quality_features: an empty
        # doc must score NULL (then fail the >= 0.3 screen), not raise an
        # ANSI DIVIDE_BY_ZERO — surviving only because the n_tokens >= 40
        # conjunct happened to short-circuit first is an optimizer accident,
        # not a guarantee
        F.expr(
            f"round(0.4 * try_divide({alpha},"
            " CAST(length(trim(text)) AS DOUBLE))"
            f" + 0.3 * least(1.0, {n_tok} / 100.0)"
            f" + 0.3 * least(1.0, 3.0 * try_divide({stop_hits},"
            f" CAST({n_tok} AS DOUBLE))), 6)"
        ).alias("quality_score"),
        F.expr(
            f"CASE WHEN {n_tok} > 0"
            f" THEN round(1 - size(array_distinct({t})) / {n_tok}, 6)"
            " ELSE 0.0 END"
        ).alias("rep_ratio"),
        textmod.fingerprint().alias("fp"),
    )
    keep = feats.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    return sorted_output(
        feats.join(keep.select("doc_id"), "doc_id", "left_semi")
        .where(
            (F.col("n_tokens") >= 40)
            & (F.col("quality_score") >= 0.3)
            & (F.col("rep_ratio") <= 0.9)
        )
        .select("doc_id", "n_tokens", "quality_score", "rep_ratio"),
        "doc_id",
    )


def _datacard_oracle() -> str:
    h = _hash64_d("text")
    return f"""
    WITH per AS (
      SELECT source,
             count(*) AS n_docs,
             CAST(sum(len({_TOK})) AS BIGINT) AS n_tokens,
             CAST(sum(length(trim(text))) AS BIGINT) AS n_chars,
             count(DISTINCT lang) AS n_langs,
             count(DISTINCT {h}) AS n_distinct_texts
      FROM documents GROUP BY source),
    tot AS (SELECT count(*) AS total_docs FROM documents)
    SELECT source, n_docs, n_tokens, n_chars, n_langs,
           round(1 - n_distinct_texts / CAST(n_docs AS DOUBLE), 6) AS dup_rate,
           (n_docs * 1000000) // total_docs AS share_ppm
    FROM per CROSS JOIN tot
    ORDER BY source
    """


@register("corpus_source_datacard", _datacard_oracle())
def q_corpus_source_datacard(spark, sf_dir):
    """Per-source corpus data card (ext/corpus.source_datacard): docs,
    token/char volume, language spread, exact-dup rate (distinct 64-bit
    text hashes, so the distinct shuffle moves 8-byte keys, not text),
    integer-exact corpus share in ppm. One partial-agg groupBy + a
    broadcast single-row total."""
    return corpus.source_datacard(_t(spark, sf_dir, "documents"))


@register(
    "corpus_chunk_overlap",
    f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    c AS (SELECT doc_id, len(t) AS n, t FROM tok WHERE len(t) > 0),
    idx AS (
      SELECT doc_id, t,
             unnest(range(0, 1 + CAST(ceil(greatest(n - 64, 0) / 48.0) AS INT)))
               AS chunk_idx
      FROM c)
    SELECT doc_id, chunk_idx,
           CAST(len(t[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS BIGINT)
             AS n_chunk_tokens,
           array_to_string(t[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')
             AS chunk_text
    FROM idx
    ORDER BY doc_id, chunk_idx
    """,
)
def q_corpus_chunk_overlap(spark, sf_dir):
    """RAG-style overlapping chunker (ext/corpus.chunk_overlap): 64-token
    windows every 48 tokens, trailing tokens always covered. The chunk
    array is built per row by a higher-order transform (token array never
    replicated per position) then posexploded."""
    docs = _t(spark, sf_dir, "documents")
    return corpus.chunk_overlap(docs, size=64, stride=48).orderBy("doc_id", "chunk_idx")


def _dup_spans_oracle(n: int = 8) -> str:
    th = f"list_transform(t, x -> {_hash64_d('x')} % {corpus.ROLL_P})"
    h = corpus.rolling_span_hash("th", n, spark_dialect=False)
    return f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM tok),
    sp AS (
      SELECT doc_id, {th} AS th,
             unnest(CASE WHEN len(t) >= {n} THEN generate_series(1, len(t) - {n - 1})
                         ELSE CAST([] AS BIGINT[]) END) AS pos
      FROM tok),
    hs AS (SELECT doc_id, pos, {h} AS h FROM sp),
    freq AS (SELECT h FROM hs GROUP BY h HAVING count(*) >= 2),
    dup AS (SELECT doc_id, pos, pos + {n - 1} AS e FROM hs WHERE h IN (SELECT h FROM freq)),
    isl AS (
      SELECT doc_id, pos, e,
             CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS ni
      FROM dup),
    isl2 AS (SELECT *, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM isl),
    cov AS (
      SELECT doc_id, CAST(sum(span_len) AS BIGINT) AS dup_tokens
      FROM (SELECT doc_id, isl, max(e) - min(pos) + 1 AS span_len
            FROM isl2 GROUP BY 1, 2)
      GROUP BY doc_id)
    SELECT b.doc_id, b.n_tokens,
           coalesce(c.dup_tokens, 0) AS dup_tokens,
           round(coalesce(c.dup_tokens, 0)
                 / CAST(CASE WHEN b.n_tokens > 0 THEN b.n_tokens ELSE 1 END AS DOUBLE),
                 6) AS dup_fraction
    FROM base b LEFT JOIN cov c USING (doc_id)
    ORDER BY b.doc_id
    """


@register("corpus_dup_span_fraction", _dup_spans_oracle())
def q_corpus_dup_span_fraction(spark, sf_dir):
    """Exact-substring duplication signal (ext/corpus.exact_dup_spans,
    Lee et al. 2022): per-doc fraction of token positions covered by an
    8-token span occurring >= 2 times corpus-wide. Span frequency and the
    join back shuffle 64-bit hashes only; covered positions union-merge
    with the interval-union window pattern."""
    docs = _t(spark, sf_dir, "documents")
    return corpus.exact_dup_spans(docs, n=8, min_count=2)


@register(
    "corpus_shard_assign",
    f"""
    WITH tok AS (SELECT doc_id, CAST(len({_TOK}) AS BIGINT) AS n_tokens
                 FROM documents),
    ranked AS (
      SELECT doc_id, n_tokens,
             row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rn
      FROM tok)
    SELECT doc_id, n_tokens, (rn - 1) % 8 AS shard
    FROM ranked ORDER BY doc_id
    """,
)
def q_corpus_shard_assign(spark, sf_dir):
    """Token-balanced output sharding (ext/corpus.shard_assign): round-robin
    over the global descending token order (LPT-style greedy), the global
    rank computed with the two-level exact rank so no task sorts the
    corpus. The oracle's plain window is the single-task form the two-level
    rank must equal bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    return corpus.shard_assign(docs, k=8)


@register(
    "corpus_vocab_growth",
    f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
    bg AS (SELECT doc_id, unnest({_shingles_d('t', 2)}) AS g
           FROM tok WHERE len(t) >= 2),
    firsts AS (SELECT {_hash64_d('g')} AS h, min(doc_id) AS first_doc
               FROM bg GROUP BY 1),
    buckets AS (
      SELECT CAST(first_doc // 50 AS BIGINT) AS bucket, count(*) AS new_tokens
      FROM firsts GROUP BY 1)
    SELECT bucket, new_tokens,
           CAST(sum(new_tokens) OVER (ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS vocab_size
    FROM buckets ORDER BY bucket
    """,
)
def q_corpus_vocab_growth(spark, sf_dir):
    """Vocabulary-growth (Heaps-law) curve over word BIGRAMS (the raw
    token vocabulary of the synthetic corpus saturates in one bucket):
    distinct-bigram vocabulary size as the corpus is consumed in doc_id
    order, in 50-doc buckets. Exact
    cumulative distinct WITHOUT cumulative distinct-counting: each token
    contributes at its FIRST document (min doc_id per token — one
    hash-shuffled groupBy over tokens), buckets count first occurrences,
    and the running sum reconstructs the exact curve over the TINY bucket
    relation only (n_docs/50 rows — the global window is bounded by the
    calendar-style trick, not the corpus). The first-occurrence groupBy
    keys on the 64-bit bigram hash, so a 100 TB corpus shuffles 8-byte
    keys, never n-gram text (collisions are deterministic and mirrored
    by the oracle's identical hashing)."""
    from sparkgraft.ext.dedup import shingle_expr

    docs = _t(spark, sf_dir, "documents")
    bg = docs.select(
        "doc_id", corpus.tokens("text").alias("__toks")
    ).where(F.size("__toks") >= 2).select(
        "doc_id", F.explode(F.expr(shingle_expr("__toks", 2))).alias("g")
    )
    from sparkgraft.ext.dedup import HASH64_SQL

    firsts = bg.groupBy(
        F.expr(HASH64_SQL.format(x="g")).alias("h")
    ).agg(F.min("doc_id").alias("first_doc"))
    buckets = (
        firsts.groupBy((F.col("first_doc") / 50).cast("bigint").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("new_tokens"))
    )
    from pyspark.sql import Window as W

    w = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    return (
        buckets.withColumn("vocab_size", F.sum("new_tokens").over(w).cast("bigint"))
        .orderBy("bucket")
    )


@register(
    "corpus_temperature_mix",
    """
    WITH s AS (SELECT source, count(*) AS n_docs
               FROM documents GROUP BY source),
    w0 AS (SELECT source, n_docs, n_docs * 1000000 AS d,
                  CAST(floor(sqrt(CAST(n_docs * 1000000 AS DOUBLE))) AS BIGINT)
                    AS w0
           FROM s),
    w1 AS (SELECT source, n_docs, d,
                  w0 + (CASE WHEN (w0 + 1) * (w0 + 1) <= d THEN 1 ELSE 0 END)
                    AS w1
           FROM w0),
    w AS (SELECT source, n_docs,
                 w1 - (CASE WHEN w1 * w1 > d THEN 1 ELSE 0 END) AS wgt
          FROM w1),
    p AS (SELECT source, n_docs, wgt,
                 CAST((1000000 * wgt) // (SELECT sum(wgt) FROM w) AS BIGINT)
                   AS p_ppm,
                 (SELECT CAST(sum(n_docs) // 2 AS BIGINT) FROM w) AS target
          FROM w),
    q AS (SELECT source, n_docs, wgt, p_ppm,
                 least(1000000, CAST((target * p_ppm) // n_docs AS BIGINT))
                   AS keep_ppm
          FROM p),
    kept AS (
      SELECT d.source, count(*) AS n_kept
      FROM documents d JOIN q USING (source)
      WHERE ((CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)
               AS BIGINT) % 1000000) + 1000000) % 1000000 < q.keep_ppm
      GROUP BY d.source)
    SELECT q.source, q.n_docs, q.wgt, q.p_ppm, q.keep_ppm,
           COALESCE(k.n_kept, 0) AS n_kept
    FROM q LEFT JOIN kept k ON q.source = k.source
    ORDER BY q.source
    """,
)
def q_corpus_temperature_mix(spark, sf_dir):
    """Temperature-scaled source mixing (the mC4 / XLM-R alpha-sampling
    recipe, alpha = 0.5): sampling probability per source proportional to
    n_docs^alpha, so low-resource sources are up-weighted relative to their
    raw share before training-mix interleave.  Every number is EXACT
    integer arithmetic, engine-reproducible:

    - n^0.5 is computed as isqrt(n * 1e6) — floor(sqrt(double)) with a
      +/-1 integer correction, which equals the true integer sqrt for any
      n below 2^52 (the double mantissa bound; docstring contract).
    - shares quantize to ppm via floor division off the exact weights;
      per-source keep rate = floor(target * p_ppm / n_docs) capped at 1e6
      (bigint-safe below ~9e18 = target_rows x 1e6).
    - membership is the corpus-standard deterministic HASH64(doc_id) mod
      1e6 threshold — repartition/rerun-stable, no RNG state, and the SAME
      hash any downstream holdout split uses.

    Plan: a partial-agg'd groupBy(source) produces a tiny stats relation;
    weight totals ride an unpartitioned window over that ~|sources|-row
    relation (bounded by source cardinality, NOT data size); the keep-rate
    table broadcasts back onto documents for the membership filter.  One
    wide shuffle total at any SF."""
    from pyspark.sql import Window as W

    from sparkgraft.ext.dedup import HASH64_SQL

    docs = _t(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    d = (F.col("n_docs") * 1000000).cast("bigint")
    w0 = F.floor(F.sqrt(d.cast("double"))).cast("bigint")
    w1 = w0 + F.when((w0 + 1) * (w0 + 1) <= d, 1).otherwise(0)
    wgt = w1 - F.when(w1 * w1 > d, 1).otherwise(0)
    stats = s.select("source", "n_docs", wgt.alias("wgt"))
    everything = W.partitionBy()
    q = (
        stats.select(
            "source",
            "n_docs",
            "wgt",
            F.sum("wgt").over(everything).alias("wgt_total"),
            F.sum("n_docs").over(everything).alias("docs_total"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "wgt",
            "(1000000 * wgt) div wgt_total AS p_ppm",
            "docs_total div 2 AS target",
        )
        .selectExpr(
            "source",
            "n_docs",
            "wgt",
            "p_ppm",
            "least(1000000, (target * p_ppm) div n_docs) AS keep_ppm",
        )
    )
    h = F.expr(f"pmod({HASH64_SQL.format(x='CAST(doc_id AS STRING)')}, 1000000)")
    kept = (
        docs.join(F.broadcast(q.select("source", "keep_ppm")), "source")
        .where(h < F.col("keep_ppm"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        q.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            "wgt",
            "p_ppm",
            "keep_ppm",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        )
        .orderBy("source")
    )
