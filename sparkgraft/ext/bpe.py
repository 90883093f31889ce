"""Distributed BPE (byte-pair-encoding) tokenizer training and encoding.

A real training-data pipeline does not stop at the ~4-chars-per-token
heuristic (:func:`sparkgraft.ext.text.bpe_token_estimate`): it LEARNS a
merge table from the corpus (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units") and then encodes documents
with it.  This module implements both halves Spark-first:

- :func:`word_freqs` — ONE corpus-scale pass: whitespace words, counted.
  This is the only stage that touches every byte; everything after runs
  on the distinct-word table (classic BPE trainer shape — pair statistics
  are weighted by word frequency, never recomputed per occurrence).
- :func:`learn_merges` — the training loop: T rounds of (adjacent-pair
  count, weighted by word frequency) -> argmax -> merge.  Each round is
  one partial-agg shuffle over the distinct-word table plus a LIMIT 1
  collect of a single row; the corpus is never rescanned.
- :func:`encode_token_counts` — apply the learned merges in order and
  count resulting symbols per document (join docs' words against the
  final word->n_symbols table; the merge application itself is pure
  string `replace`, JVM-side).

Symbol-sequence representation (the part that makes the engine-portable
oracle possible): a word's sequence is rendered as ``(c1)(c2)...(cn)`` —
every symbol wrapped in parens.  Merging pair (a, b) is then the literal
string replacement ``"(a)(b)" -> "(ab)"``, and plain `replace` (Spark
`F.replace`, DuckDB `replace`, Python `str.replace`) applies it with
EXACTLY canonical BPE semantics:

- left-to-right, non-overlapping — ``(a)(a)(a)(a)`` under pair (a, a)
  becomes ``(aa)(aa)``, matching the greedy scan-with-skip;
- no cross-symbol false matches — a symbol ``xa`` followed by ``b``
  renders ``(xa)(b)``, which does NOT contain ``(a)(b)``.  (A naive
  space-separated rendering fails BOTH properties: shared separators
  break non-overlapping replacement, and suffix symbols create false
  matches.)

Corpus words here are lowercase ``[a-z]+`` (whitespace tokens of the
documents table), so ``(`` and ``)`` never occur inside a symbol.  The
merged symbol's name is the concatenation of its parts — derived from the
pair key itself by ``replace(pair, ')(', '')``.

Tie-breaks are total and engine-portable: highest weighted count first,
then lexicographically smallest pair key (pure ASCII compare).

Scale posture: word_freqs is scan + map-side-combined count (the same
shape as any term-frequency job); each training round shuffles only the
distinct-word table's exploded pairs (vocabulary-sized, not corpus-sized)
and ships ONE row to the driver; encode is a broadcast-sized join of the
final word table against the corpus words.  Reference scope anchor: the
reference app's text handling stops at raw columns (`SimpleApp.scala` has
no tokenizer at all); this module is part of the beyond-reference
LLM-pipeline surface SURVEY.md section 2.12 stakes out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from sparkgraft.ext import text
from sparkgraft.ops.materialize import materialize

#: number of merge rounds the driver lanes learn; small enough that the
#: whole merge table is a handful of rows, large enough that rounds 2+
#: genuinely depend on earlier merges (merged symbols re-enter the pair
#: statistics).
N_MERGES_DEFAULT = 4

#: the `(c1)(c2)...(cn)` rendering of a word, built without a UDF: each
#: char becomes `c)(`, the whole thing is prefixed with `(`, and the
#: trailing `)(` is cut by taking exactly 3*length chars.
_REP_SQL = (
    "substring(concat('(', regexp_replace({w}, '(.)', '$1)(')), "
    "1, 3 * length({w}))"
)

#: adjacent-pair keys of a rendered sequence: split the parens rendering
#: back into symbols, then window pairs as `(a)(b)` strings (the literal
#: replace target).  Sequences with one symbol yield no pairs — the guard
#: matters because Spark's `sequence(1, 0)` DESCENDS instead of being
#: empty.
_PAIRS_SQL = (
    "CASE WHEN size({s}) < 2 THEN array() "
    "ELSE transform(sequence(1, size({s}) - 1), "
    "i -> concat('(', element_at({s}, i), ')(', element_at({s}, i + 1), ')')) "
    "END"
)

_SYMBOLS_SQL = "split(substring({seq}, 2, length({seq}) - 2), '\\\\)\\\\(')"


def word_freqs(df: DataFrame, col: str = "text") -> DataFrame:
    """(word, wc): whitespace-token vocabulary with frequencies — the one
    corpus-scale pass of the trainer (map-side combined count)."""
    return (
        df.select(F.explode(text.tokens(col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )


def initial_seqs(wf: DataFrame) -> DataFrame:
    """(word, seq, wc): each vocabulary word rendered as its character
    symbol sequence ``(c1)(c2)...(cn)``."""
    return wf.select(
        "word", F.expr(_REP_SQL.format(w="word")).alias("seq"), "wc"
    )


def pair_counts(seqs: DataFrame) -> DataFrame:
    """(pair, cnt): adjacent-symbol pair keys weighted by word frequency.

    The shuffle here is over the DISTINCT-WORD table's exploded pairs —
    vocabulary-sized.  Partial aggregation (map-side combine) applies
    because it is a plain groupBy-sum."""
    pairs = F.expr(_PAIRS_SQL.format(s=_SYMBOLS_SQL.format(seq="seq")))
    return (
        seqs.select(F.explode(pairs).alias("pair"), "wc")
        .groupBy("pair")
        .agg(F.sum("wc").alias("cnt"))
    )


def merged_symbol(pair: str) -> str:
    """Merged-symbol key of a pair key: ``(a)(b)`` -> ``(ab)``."""
    return pair.replace(")(", "")


def learn_merges(
    wf: DataFrame, n_merges: int = N_MERGES_DEFAULT
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Run the BPE training loop for ``n_merges`` rounds.

    Returns ``(merges, final_seqs)`` where merges is a list of
    ``(step, pair, merged, pair_count)`` rows (possibly shorter than
    ``n_merges`` if the vocabulary runs out of pairs — e.g. an empty
    corpus learns zero merges) and ``final_seqs`` is the word table with
    all learned merges applied (input to :func:`encode_token_counts`).

    Each round collects exactly ONE row (the argmax pair); the merge is
    applied lazily as a literal `F.replace`, so round k's plan is the
    initial render plus k replaces — all JVM-side string ops over the
    vocabulary table, no Python in the loop body.

    The rendered vocabulary is MATERIALIZED once (``materialize``) before
    the loop: ``wf`` is a lazy plan rooted at the corpus scan, so without
    it every round's argmax job — and the encode join after — re-ran the
    corpus tokenize+count (r14 audit: 4 merge rounds = 5 corpus scans).
    With it the one corpus-scale pass the module docstring promises is
    real, and rounds touch only the vocabulary-sized table."""
    seqs = materialize(initial_seqs(wf))
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        best = (
            pair_counts(seqs)
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        pair, cnt = best[0]["pair"], int(best[0]["cnt"])
        merged = merged_symbol(pair)
        merges.append((step, pair, merged, cnt))
        seqs = seqs.withColumn(
            "seq", F.replace(F.col("seq"), F.lit(pair), F.lit(merged))
        )
    return merges, seqs


def merges_df(spark: SparkSession, merges) -> DataFrame:
    """The learned merge table as a DataFrame (stable schema even when
    zero merges were learned)."""
    return spark.createDataFrame(
        [tuple(m) for m in merges],
        "step int, pair string, merged string, pair_count bigint",
    )


def encode_token_counts(
    docs: DataFrame,
    final_seqs: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document token statistics under the learned merges.

    (doc_id, n_words, n_chars_tok, n_tokens_bpe): word count, total
    characters across words, and the BPE token count — the sum over the
    document's words of the word's post-merge symbol count.  Documents
    with zero words report zeros, not NULLs (they still exist in the
    corpus).

    The join is corpus-words against the final vocabulary table; the
    vocabulary side is the small one (distinct words), so Spark's
    broadcast threshold or AQE picks a broadcast join at any realistic
    vocabulary size."""
    n_sym = F.size(F.expr(_SYMBOLS_SQL.format(seq="seq")))
    vocab = final_seqs.select(
        "word", n_sym.cast("long").alias("n_sym")
    )
    doc_words = docs.select(
        F.col(id_col), F.explode(text.tokens(col)).alias("word")
    )
    per_doc = (
        doc_words.join(vocab, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("word")).alias("n_chars_tok"),
            F.sum("n_sym").alias("n_tokens_bpe"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_chars_tok", F.lit(0))
            .cast("long")
            .alias("n_chars_tok"),
            F.coalesce("n_tokens_bpe", F.lit(0))
            .cast("long")
            .alias("n_tokens_bpe"),
        )
    )
