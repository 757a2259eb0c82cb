"""Deduplication operators for training-data pipelines over ``documents``.

Exact-hash dedup lives in :mod:`.relational` (d1_dedup_exact).  Here:

* MinHash + LSH banding — shingle → per-seed min-hash → band buckets →
  bucket self-join → candidate pairs.  The self-join is on the band bucket
  (tiny groups), never all-pairs: the 100 TB-safe shape.
* SimHash — per-token hash bit votes → 16-bit signature; identical
  signatures form dup groups (one shuffle on the signature).
* N-gram Jaccard — sorted-neighborhood blocking (same source, close length)
  then exact shingle-set Jaccard on the candidate pairs only.

All queries run Catalyst-native (higher-order array functions) at default
bench-sized parameters, each with a DuckDB oracle built from the same hash
(md5) so values match exactly.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .textstats import _TOKENS_SQL, tokens_col

__all__ = ["QUERIES", "ORACLE_SQL"]

_N_HASHES = 8
_BAND_ROWS = 2  # 4 bands of 2 rows

# Universal-hashing minhash: ONE md5 per shingle (its first 60 bits, folded
# to 31) and k affine permutations h_i = (A_i*h + B_i) mod (2^61-1).  vs the
# earlier md5-per-(shingle, permutation) scheme this divides the hash work
# by k — at production k=128 the signature pass is ~2 orders of magnitude
# cheaper, and the exchange carries a long array instead of md5 strings.
# Bounds keep every product under 2^62: A,B < 2^31, h < 2^31 — Spark longs
# wrap silently and DuckDB BIGINTs error on overflow, so staying in range
# is what keeps the oracle exact.
_MINHASH_P = (1 << 61) - 1
import random as _random

_rng = _random.Random(0xC0FFEE)
_MINHASH_A = [(_rng.randrange(1, 1 << 31)) | 1 for _ in range(128)]
_MINHASH_B = [_rng.randrange(0, 1 << 31) for _ in range(128)]
del _rng


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from tablestructurerec_spark.sources.read import read_table

    return read_table(spark, sf_dir, name)


def shingles_col(toks: Column) -> Column:
    """Word 3-gram shingles; empty array when fewer than 3 tokens.

    Built from three shifted slices zipped together rather than an
    ``element_at`` lambda: a per-element lambda would inline (and re-evaluate)
    the whole tokenizer expression once per element — a >100× planner blowup
    observed at bench time.  Slices evaluate the token array once per row.
    """
    n = F.greatest(F.size(toks) - 2, F.lit(0))
    a = F.slice(toks, 1, n)
    b = F.slice(toks, 2, n)
    c = F.slice(toks, 3, n)
    bc = F.zip_with(b, c, lambda x, y: F.concat_ws(" ", x, y))
    return F.zip_with(a, bc, lambda x, yz: F.concat_ws(" ", x, yz))


_SHINGLES_SQL = (
    f"list_transform(range(0, greatest(len({_TOKENS_SQL}) - 2, 0)),"
    f" i -> {_TOKENS_SQL}[i+1] || ' ' || {_TOKENS_SQL}[i+2] || ' ' || {_TOKENS_SQL}[i+3])"
)


# ---------------------------------------------------------------------------
# MinHash + LSH banded candidate pairs
# ---------------------------------------------------------------------------
def _hv_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hv): ONE md5 per shingle, folded to 31 bits — the shared
    input of every minhash face (batch LSH, incremental)."""
    hv = F.transform(
        shingles_col(tokens_col(F.col("text"))),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
        % F.lit(1 << 31),
    )
    return _t(spark, sf_dir, "documents").select("doc_id", hv.alias("hv"))


def _banded_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) from (doc_id, hv) — the k permutations are pure
    integer affine transforms (universal hashing)."""
    # exchange barrier right after shingling: each of the k signature
    # expressions below references hv, and without the barrier Catalyst
    # inlines (and re-executes) the whole tokenizer + shingler + md5 tree per
    # signature — measured 5x slower at bench SF.
    docs = docs.repartition("doc_id")

    def sig(i: int):
        a, b = _MINHASH_A[i], _MINHASH_B[i]
        # NB: single-arg lambda — a 2-arg transform lambda receives (elem, idx)
        return F.array_min(
            F.transform(
                F.col("hv"),
                lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(_MINHASH_P),
            )
        ).cast("string")

    sigs = [sig(i) for i in range(_N_HASHES)]
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.md5(
                    F.concat_ws("|", *sigs[j * _BAND_ROWS : (j + 1) * _BAND_ROWS])
                ).alias("bucket"),
            )
            for j in range(_N_HASHES // _BAND_ROWS)
        ]
    )
    return docs.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket")
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bench-sized signatures (``_N_HASHES`` permutations in bands of
    # ``_BAND_ROWS``), pinned by the DuckDB oracle; the self-join is on
    # (band, bucket).
    banded = _banded_docs(_hv_docs(spark, sf_dir))
    # exchange barrier: materialize the signatures ONCE per row before the
    # self-join — otherwise Catalyst inlines the whole signature tree into
    # both join sides and recomputes it per candidate pair.  The hash
    # partitioning matches the join keys; when the planner picks a shuffle
    # join both sides share this exchange (at small inputs it may broadcast
    # one side instead — measured cost-neutral warm at sf0.01/sf0.1).
    banded = banded.repartition("band", "bucket")
    pairs = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    return pairs.orderBy("doc_a", "doc_b")


def _banded_cte() -> str:
    """The shared DuckDB CTE body producing banded(doc_id, band, bucket) —
    byte-equal to :func:`_banded_docs` — reused by every minhash oracle."""

    def sig(i: int) -> str:
        a, b = _MINHASH_A[i], _MINHASH_B[i]
        return (
            f"list_min(list_transform(hv, h -> (h * {a} + {b}) % {_MINHASH_P}))"
            "::VARCHAR"
        )

    def bucket(j: int) -> str:
        return "md5(" + " || '|' || ".join(
            sig(i) for i in range(j * _BAND_ROWS, (j + 1) * _BAND_ROWS)
        ) + ")"

    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {j} AS band, {bucket(j)} AS bucket FROM sh_docs"
        for j in range(_N_HASHES // _BAND_ROWS)
    )
    return f"""
WITH sh_docs AS (
  SELECT doc_id,
         list_transform({_SHINGLES_SQL},
                        s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {1 << 31}) AS hv
  FROM documents
), banded AS (
{band_selects}
)"""


def _minhash_oracle() -> str:
    return f"""
{_banded_cte()}
SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
FROM banded x JOIN banded y
  ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# SimHash signatures + dup-group sizes
# ---------------------------------------------------------------------------
_SIM_BITS = 16


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explode + codegen'd hash aggregate.  This is scale-safe despite the
    # token explode: partial aggregation combines the bit votes map-side, so
    # the shuffle carries ~one 16-long row per (mapper, doc), not per token.
    # A shuffle-free higher-order-function fold over the token array was
    # tried and measured 2-3× slower — HOF lambdas evaluate interpreted,
    # outside whole-stage codegen.
    docs = _t(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
        .withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("int"))
    )
    votes = [
        F.sum(((F.floor(F.col("h") / (1 << j)) % 2) * 2 - 1)).alias(f"v{j}")
        for j in range(_SIM_BITS)
    ]
    per_doc = tok.groupBy("doc_id").agg(*votes)
    simhash = sum(
        (F.when(F.col(f"v{j}") > 0, 1).otherwise(0) * (1 << j))
        for j in range(_SIM_BITS)
    )
    sigs = per_doc.select("doc_id", simhash.cast("int").alias("simhash"))
    # group sizes via a window over the signature: one shuffle total, vs
    # groupBy + rejoin which shuffles sigs twice
    w = Window.partitionBy("simhash")
    return (
        sigs.select(
            "doc_id", "simhash", F.count(F.lit(1)).over(w).cast("int").alias("group_size")
        )
        .orderBy("doc_id")
    )


def _simhash_oracle() -> str:
    votes = ",\n         ".join(
        f"SUM((CAST(floor(h / {1 << j}) AS INT) % 2) * 2 - 1) AS v{j}"
        for j in range(_SIM_BITS)
    )
    assemble = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN 1 ELSE 0 END) * {1 << j}" for j in range(_SIM_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, CAST(('0x' || substr(md5(t.tok), 1, 4)) AS INT) AS h
  FROM documents, UNNEST({_TOKENS_SQL}) AS t(tok)
), per_doc AS (
  SELECT doc_id,
         {votes}
  FROM tok GROUP BY doc_id
), sigs AS (
  SELECT doc_id, CAST({assemble} AS INT) AS simhash FROM per_doc
)
SELECT s.doc_id, s.simhash, CAST(g.group_size AS INT) AS group_size
FROM sigs s JOIN (SELECT simhash, COUNT(*) AS group_size FROM sigs GROUP BY simhash) g
  USING (simhash)
ORDER BY s.doc_id
"""


# ---------------------------------------------------------------------------
# N-gram Jaccard with sorted-neighborhood blocking
# ---------------------------------------------------------------------------
_JACCARD_MIN = 0.1
_LEN_BLOCK = 20


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # blocking key = (source, length bucket): each doc lands in its bucket
    # and the next one, so every |Δn_chars| ≤ _LEN_BLOCK pair shares a
    # bucket — the join enumerates ~Δ/len_range of the same-source pairs
    # instead of all of them.  Shingles are computed map-side (scan
    # parallelism — at scale the source has many splits) and the exchange
    # materializes them ONCE per doc for both join sides; computing them
    # after the repartition instead was measured 2.5× slower because AQE
    # coalesces the tiny shuffle and each join side re-projects the shingler.
    docs = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.array_distinct(shingles_col(tokens_col(F.col("text")))).alias("sh"),
            F.floor(F.col("n_chars") / _LEN_BLOCK).cast("long").alias("blk"),
        )
        .withColumn("blk", F.explode(F.array(F.col("blk"), F.col("blk") + 1)))
        .repartition("source", "blk")
    )
    a, b = docs.alias("a"), docs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= _LEN_BLOCK),
    )
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    jac = F.when(union > 0, inter / union).otherwise(0.0)
    # Score once per candidate pair in a codegen'd projection (CSE applies —
    # one array_intersect per pair).  The nondeterministic `_np` guard keeps
    # the jaccard filter out of the join condition, where it ran before the
    # cheap doc_id/n_chars conjuncts on every raw (source, blk) match and
    # re-evaluated the intersect up to 6× per pair (measured 14.5s → <1s of
    # join work at sf0.1).
    scored = pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.round(jac, 6).alias("jaccard"),
        F.rand(7).alias("_np"),
    )
    return (
        scored.where((F.col("jaccard") >= _JACCARD_MIN) & (F.col("_np") >= -1.0))
        .select("doc_a", "doc_b", "jaccard")
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


_JACCARD_SQL = f"""
WITH d AS (
  SELECT doc_id, source, n_chars, list_distinct({_SHINGLES_SQL}) AS sh
  FROM documents
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.sh, b.sh)) AS i,
         len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS u
  FROM d a JOIN d b
    ON a.source = b.source AND a.doc_id < b.doc_id
   AND abs(a.n_chars - b.n_chars) <= {_LEN_BLOCK}
)
SELECT doc_a, doc_b,
       ROUND(CASE WHEN u > 0 THEN i * 1.0 / u ELSE 0.0 END, 6) AS jaccard
FROM pairs
WHERE ROUND(CASE WHEN u > 0 THEN i * 1.0 / u ELSE 0.0 END, 6) >= {_JACCARD_MIN}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# duplicate components: pair list → groups → representative
# ---------------------------------------------------------------------------
def q_dedup_components(
    spark: SparkSession, sf_dir: str, reliable_checkpoint: bool | None = None
) -> DataFrame:
    """Connected components over the MinHash-LSH candidate pairs — the last
    mile of a dedup pipeline: every document in a dup group gets the group's
    min doc_id as ``component``; ``is_representative`` marks the keeper.

    Distributed shape: iterative min-label propagation over the (tiny
    relative to the corpus) edge list — each round is one shuffle
    (symmetrized edges joined to current labels, min per vertex), converging
    in O(diameter) rounds, diameter being small for near-dup clusters.  The
    O(corpus) side only joins in once at the end — a plain equi-join on
    doc_id, so AQE broadcasts only when the label map actually fits (at
    100 TB with high dup rates it is itself billions of rows).  Singleton
    documents are their own component.

    ``reliable_checkpoint=True`` truncates the iterative lineage through the
    configured ``spark.sparkContext.setCheckpointDir`` storage instead of
    executor-local blocks: on a real cluster an executor loss mid-iteration
    then costs a re-read, not a job failure.  Default ``None`` follows the
    session's cluster profile: reliable iff a checkpoint dir is configured
    (``session.get_spark(checkpoint_dir=...)`` / ``SPARK_GRAFT_CKPT_DIR``,
    which the spark-submit launcher sets) — local bench sessions have none
    and keep the cheaper localCheckpoint.
    """
    if reliable_checkpoint is None:
        from tablestructurerec_spark.session import has_reliable_checkpoint

        reliable_checkpoint = has_reliable_checkpoint(spark)

    def barrier(df: DataFrame) -> DataFrame:
        return df.checkpoint() if reliable_checkpoint else df.localCheckpoint()

    pairs = q_dedup_minhash_lsh(spark, sf_dir)  # (doc_a, doc_b)
    # symmetrize in ONE pass over the pair plan: a self-union would execute
    # the whole MinHash candidate-pair pipeline twice (measured 2x the edge
    # stage at bench SF; at corpus scale, two full LSH joins instead of one)
    edges = barrier(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                    F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
                )
            ).alias("e")
        ).select("e.src", "e.dst")
    )  # materialize once; every round re-reads it
    # init = round one folded in: component = min(self, min neighbor).  For
    # clique-shaped dup groups (the common near-dup case) this is already
    # the fixpoint, so the loop runs once to detect convergence instead of
    # propagate + detect — one fewer join+barrier+action round.
    from pyspark.sql import Observation

    def barrier_observed(df: DataFrame):
        """Checkpoint + convergence sum in ONE action: the eager checkpoint
        already executes the plan, so an observe() metric rides along for
        free instead of costing a separate aggregate job per round."""
        obs = Observation()
        df = df.observe(obs, F.coalesce(F.sum("component"), F.lit(0)).alias("s"))
        return barrier(df), obs

    labels, obs = barrier_observed(
        edges.groupBy("src")
        .agg(F.least(F.first("src"), F.min("dst")).alias("component"))
        .select(F.col("src").alias("doc_id"), "component")
    )
    prev_sum = obs.get["s"]
    while True:
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("component").alias("ncomp"))
        )
        stepped = labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left").select(
            "doc_id",
            F.least(F.col("component"), F.coalesce(F.col("ncomp"), F.col("component"))).alias("component"),
        )
        # pointer jumping: shortcut each label through its label's label —
        # turns O(diameter) convergence into O(log diameter) rounds (each
        # round costs one extra self-join, far cheaper than a full round)
        hop = stepped.select(
            F.col("doc_id").alias("hop_id"), F.col("component").alias("hop_comp")
        )
        labels = (
            stepped.join(hop, stepped.component == hop.hop_id, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"), F.coalesce(F.col("hop_comp"), F.col("component"))
                ).alias("component"),
            )
        )
        # truncate the iterative lineage each round; labels only ever
        # decrease, so the observed sum is a strictly-monotone convergence
        # witness riding the checkpoint action (no separate aggregate job)
        labels, obs = barrier_observed(labels)
        cur_sum = obs.get["s"]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # plain equi-join: the label map is O(docs-in-any-dup-pair) — unbounded
    # at 100 TB — so let AQE pick broadcast only when it measures small
    out = docs.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
    )
    return out.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("is_representative"),
    ).orderBy("doc_id")


def _components_oracle() -> str:
    """Same components via a recursive CTE: min reachable doc_id."""
    return f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_minhash_oracle().replace(';', '')})
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), comp AS (
  SELECT src AS doc_id, LEAST(MIN(dst), src) AS component
  FROM reach GROUP BY src
)
SELECT d.doc_id,
       COALESCE(c.component, d.doc_id) AS component,
       d.doc_id = COALESCE(c.component, d.doc_id) AS is_representative
FROM documents d LEFT JOIN comp c USING (doc_id)
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs a persisted corpus index
# ---------------------------------------------------------------------------
# A real 10^12-turn pipeline never re-LSHes the corpus per crawl increment:
# the corpus's (band, bucket, doc_id) index is PERSISTED once (bucketed by
# the band key — plans/bucketing.write_bucketed is the layout writer), and
# each new batch computes only its own buckets and joins against it.  The
# deterministic split below (doc_id % _INCR_MOD == _INCR_REM plays the "new
# crawl"; the rest plays the indexed corpus) lets the driver oracle-check
# the exact join semantics of that operational shape.
_INCR_MOD = 10
_INCR_REM = 7


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup matches of a NEW batch against an existing corpus index:
    (new_doc, dup_of) for every band-bucket collision between a new document
    and an indexed one.  New docs with no row here are genuinely new.

    Scale shape: the split happens BEFORE signature computation, so each
    document's signature is computed exactly once (one corpus pass of hash
    work total, split across the two sides).  In deployment the index side
    is not recomputed at all — it is read pre-banded from a table bucketed
    by (band, bucket), so the 100 TB side joins with ZERO exchange and only
    the increment shuffles (``tests/test_dedup_incremental.py`` pins that
    plan differentially against the unbucketed layout).  Unlike a
    fixed-size benchmark set, a crawl increment is unbounded, so this is
    an equi-join, never a forced broadcast.
    """
    hv = _hv_docs(spark, sf_dir)
    is_new = (F.col("doc_id") % _INCR_MOD) == _INCR_REM
    new_b = _banded_docs(hv.where(is_new)).alias("n")
    idx_b = _banded_docs(hv.where(~is_new)).alias("i")
    return (
        new_b.join(
            idx_b,
            (F.col("n.band") == F.col("i.band"))
            & (F.col("n.bucket") == F.col("i.bucket")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc"), F.col("i.doc_id").alias("dup_of")
        )
        .distinct()
        .orderBy("new_doc", "dup_of")
    )


def _incremental_oracle() -> str:
    return f"""
{_banded_cte()}
SELECT DISTINCT y.doc_id AS new_doc, x.doc_id AS dup_of
FROM banded y JOIN banded x
  ON y.band = x.band AND y.bucket = x.bucket
WHERE y.doc_id % {_INCR_MOD} = {_INCR_REM}
  AND x.doc_id % {_INCR_MOD} <> {_INCR_REM}
ORDER BY new_doc, dup_of
"""


# ---------------------------------------------------------------------------
# policy-driven representative selection: keep the BEST doc per dup group
# ---------------------------------------------------------------------------
def q_dedup_keep_best(
    spark: SparkSession, sf_dir: str, reliable_checkpoint: bool | None = None
) -> DataFrame:
    """Quality-policy representative selection over the dup components:
    instead of ``q_dedup_components``' keep-first (min doc_id), keep the
    member with the HIGHEST quality score (``textstats.quality_cols``),
    ties to the smaller doc_id — what production dedup actually does
    (discard the boilerplate-laden mirror, keep the clean original).

    Shape on top of components: one equi-join to the per-doc quality
    scan (no extra pass over text — quality is a scan+project) and one
    window keyed on ``component``.  Dup groups are small (bounded by the
    near-dup radius), so the per-component sort is bounded; the window
    shuffle is the only exchange added.
    """
    from tablestructurerec_spark.operators.textstats import quality_cols

    comp = q_dedup_components(spark, sf_dir, reliable_checkpoint).select(
        "doc_id", "component"
    )
    docs = _t(spark, sf_dir, "documents")
    quality = docs.select(
        "doc_id", quality_cols(tokens_col(F.col("text")), F.col("text"))[3]
    )
    w = Window.partitionBy("component").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        comp.join(quality, "doc_id")
        .select(
            "doc_id",
            "component",
            "quality",
            (F.row_number().over(w) == 1).cast("int").alias("keep"),
        )
        .orderBy("doc_id")
    )


def _keep_best_oracle() -> str:
    """Components (recursive CTE) ⋈ quality, ROW_NUMBER keep verdict.  The
    WITH RECURSIVE block nests inside a derived table so the outer query
    can compose it with the quality CTE unchanged."""
    from tablestructurerec_spark.operators.textstats import _QUALITY_SQL

    return f"""
WITH comp AS (
  SELECT doc_id, component FROM ({_components_oracle()})
), q AS (
  SELECT doc_id, quality FROM ({_QUALITY_SQL})
)
SELECT c.doc_id, c.component, q.quality,
       CAST(CASE WHEN ROW_NUMBER() OVER (
         PARTITION BY c.component ORDER BY q.quality DESC, c.doc_id ASC
       ) = 1 THEN 1 ELSE 0 END AS INT) AS keep
FROM comp c JOIN q USING (doc_id)
ORDER BY c.doc_id
"""


QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_incremental": q_dedup_incremental,
    "dedup_simhash": q_dedup_simhash,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_components": q_dedup_components,
}

ORACLE_SQL: Dict[str, str] = {
    "dedup_minhash_lsh": _minhash_oracle(),
    "dedup_incremental": _incremental_oracle(),
    "dedup_simhash": _simhash_oracle(),
    "dedup_ngram_jaccard": _JACCARD_SQL,
    "dedup_components": _components_oracle(),
}
