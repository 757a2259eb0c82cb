"""BPE merge-table TRAINING (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units", ACL) — the tokenizer-fitting
step a pretraining pipeline runs before it can budget anything in real
tokens.  ``operators/bpe.py`` encodes with a FIXED table; this module
learns the table from the corpus and encodes with it.

The classic algorithm never touches the raw corpus after one pass: it
operates on the WORD-FREQUENCY table (word → count), merging the highest-
count adjacent symbol pair per round.  That structure maps onto Spark the
same way the k-means quantizer does (``core/kmeans.py`` docstring):

* the distributed part is the corpus-sized work — one explode → groupBy
  shuffle with map-side combine builds (word, count);
* the vocabulary is then BOUNDED (top ``max_words`` by count — exactly
  what production tokenizer trainers do; a 100 TB corpus has ~10⁶ distinct
  frequent words, and rare-word tails don't move merge counts) and the
  merge loop runs driver-side as a pure function of the (word, count)
  set — no RNG, deterministic tie-breaks — so an independent oracle
  process can RELEARN bit-identical merges from the same parquet and
  replay the encode as a regexp chain in SQL: full value-hash parity for
  a trained tokenizer;
* encoding with the learned table reuses the rank-ordered regexp chain
  (whole-stage codegen, no Python in the hot path).  The chain ≡ classic
  min-rank encode equivalence holds for any TRAINED table by construction:
  a merge's components are single characters or outputs of strictly
  earlier merges, so no later merge can create an occurrence of an
  earlier pair (property-tested against the classic encoder under learned
  tables in tests/test_bpe_train.py).

Determinism contract (both the Spark query and the DuckDB-oracle builder
call :func:`learn_merges` on the same (word, count) rows):

* candidate vocab: top ``max_words`` by (count DESC, word ASC) — a total
  order, so the bounded set is identical across engines;
* per round: argmax pair by (weighted count DESC, pair lexicographic ASC);
* stop early when the best pair occurs once (merging it cannot compress).
"""

from __future__ import annotations

from typing import Dict, List, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tablestructurerec_spark.operators.bpe import (
    _bpe_encode_sql,
    _sql_chr,
    _E,
    bpe_encode_col,
    bpe_token_count_col,
)
from tablestructurerec_spark.operators.textstats import tokens_col, tokens_sql

__all__ = [
    "learn_merges",
    "q_bpe_learned_token_count",
    "bpe_learned_oracle",
]

_N_MERGES = 24
_MAX_WORDS = 65_536  # bounded training vocabulary (top-N by count)


def learn_merges(
    word_counts: Sequence[Tuple[str, int]], n_merges: int
) -> List[Tuple[str, str]]:
    """Classic BPE training on a (word, count) table.  Pure function — no
    RNG, no dict-order dependence: rows are sorted internally and ties
    break lexicographically, so any engine that supplies the same multiset
    of rows learns the same merges."""
    vocab: List[Tuple[List[str], int]] = [
        (list(w), c)
        for w, c in sorted(word_counts, key=lambda wc: (-wc[1], wc[0]))
        if w
    ]
    merges: List[Tuple[str, str]] = []
    for _ in range(n_merges):
        counts: Dict[Tuple[str, str], int] = {}
        for toks, c in vocab:
            for i in range(len(toks) - 1):
                p = (toks[i], toks[i + 1])
                counts[p] = counts.get(p, 0) + c
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if counts[best] < 2:
            break
        merges.append(best)
        a, b = best
        for row in vocab:
            toks = row[0]
            i = 0
            while i < len(toks) - 1:
                if toks[i] == a and toks[i + 1] == b:
                    toks[i : i + 2] = [a + b]
                else:
                    i += 1
    return merges


def _word_counts_spark(
    spark: SparkSession, sf_dir: str, max_words: int
) -> List[Tuple[str, int]]:
    from tablestructurerec_spark.sources.read import read_table

    docs = read_table(spark, sf_dir, "documents")
    rows = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(max_words)  # bounded top-k (TakeOrdered — never a full sort)
        .collect()
    )
    return [(r.word, r.cnt) for r in rows]


def q_bpe_learned_token_count(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = _N_MERGES,
    max_words: int = _MAX_WORDS,
) -> DataFrame:
    """Learn a BPE table from the corpus, then encode the corpus with it:
    ``(doc_id, n_bpe_tokens, enc_md5)`` plus the learned table fingerprint
    (same value on every row — lets a consumer assert which tokenizer
    version produced the counts)."""
    from tablestructurerec_spark.sources.read import read_table

    merges = learn_merges(
        _word_counts_spark(spark, sf_dir, max_words), n_merges
    )
    table_md5 = _table_md5(merges)
    docs = read_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", bpe_encode_col(F.col("text"), merges).alias("enc")
    )
    return staged.select(
        "doc_id",
        bpe_token_count_col(F.col("enc")).alias("n_bpe_tokens"),
        F.md5(F.col("enc")).alias("enc_md5"),
        F.lit(table_md5).alias("table_md5"),
    ).orderBy("doc_id")


def _table_md5(merges: List[Tuple[str, str]]) -> str:
    import hashlib

    return hashlib.md5(
        "|".join(f"{a} {b}" for a, b in merges).encode()
    ).hexdigest()


def bpe_learned_oracle(
    sf_dir: str, n_merges: int = _N_MERGES, max_words: int = _MAX_WORDS
) -> str:
    """Relearn the table from the parquet in an independent process (DuckDB
    word counts → the same :func:`learn_merges`) and replay the encode as a
    regexp chain in SQL.  Bit-identical merges ⇒ hash-exact parity."""
    import duckdb

    rows = duckdb.connect().execute(
        f"""
        SELECT word, COUNT(*) AS cnt
        FROM (SELECT unnest({tokens_sql()}) AS word
              FROM read_parquet('{sf_dir}/documents.parquet'))
        GROUP BY word
        ORDER BY cnt DESC, word ASC
        LIMIT {max_words}
        """
    ).fetchall()
    merges = learn_merges([(w, int(c)) for w, c in rows], n_merges)
    return f"""
WITH enc AS (
  SELECT doc_id, {_bpe_encode_sql('text', merges)} AS e FROM documents
)
SELECT doc_id,
       CAST(length(e) - length(replace(e, {_sql_chr(_E)}, '')) AS INT) AS n_bpe_tokens,
       md5(e) AS enc_md5,
       '{_table_md5(merges)}' AS table_md5
FROM enc
ORDER BY doc_id
"""
