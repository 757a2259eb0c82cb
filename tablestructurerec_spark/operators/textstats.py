"""Text-analysis operators for training-data pipelines over ``documents``.

Language-ID (marker n-gram heuristic), quality scoring, token counting, and
rolling-hash fingerprinting — all pure Catalyst column expressions (no
Python), each with an ANSI-SQL DuckDB oracle.  These are the graft's
large-scale corpus-hygiene operators; at 100 TB each is a single
scan+project (no shuffle except the final presentation sort).
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["tokens_col"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from tablestructurerec_spark.sources.read import read_table

    return read_table(spark, sf_dir, name)


def tokens_col(text: Column) -> Column:
    """Lowercased alnum tokens; mirrors the oracle's tokenizer exactly."""
    return F.filter(
        F.split(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "), " "),
        lambda x: x != "",
    )


def tokens_sql(expr: str = "text") -> str:
    """DuckDB twin of :func:`tokens_col`, parameterized on the text
    expression (no string surgery at call sites)."""
    return (
        f"list_filter(string_split_regex(regexp_replace(lower({expr}), '[^a-z0-9]+', ' ', 'g'),"
        " ' '), x -> x <> '')"
    )


_TOKENS_SQL = tokens_sql()


# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------
def token_count_cols(toks: Column, text: Column) -> list[Column]:
    return [
        F.size(toks).cast("int").alias("n_tokens"),
        F.length(text).cast("int").alias("n_chars_actual"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_unique_tokens"),
    ]


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    return docs.select("doc_id", *token_count_cols(toks, F.col("text"))).orderBy("doc_id")


_TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       CAST(len({_TOKENS_SQL}) AS INT) AS n_tokens,
       CAST(length(text) AS INT) AS n_chars_actual,
       CAST(len(list_distinct({_TOKENS_SQL})) AS INT) AS n_unique_tokens
FROM documents
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# language ID — marker-word heuristic (n-gram language cues)
# ---------------------------------------------------------------------------
_MARKERS = {
    "en": "(the|a|of|and|is)",
    "es": "(el|la|de|los|es)",
    "zh": "(ma|de|le|shi|bu)",
}


def lang_id_cols(text: Column) -> list[Column]:
    low = F.regexp_replace(F.lower(text), "[^a-z0-9]+", " ")
    hits = {
        lang: F.size(F.regexp_extract_all(low, F.lit(rf"\b{pat}\b"), F.lit(0))).cast("int")
        for lang, pat in _MARKERS.items()
    }
    pred = (
        F.when(
            (hits["en"] >= hits["es"]) & (hits["en"] >= hits["zh"]), F.lit("en")
        )
        .when(hits["es"] >= hits["zh"], F.lit("es"))
        .otherwise(F.lit("zh"))
    )
    return [
        hits["en"].alias("en_hits"),
        hits["es"].alias("es_hits"),
        hits["zh"].alias("zh_hits"),
        pred.alias("pred_lang"),
    ]


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", *lang_id_cols(F.col("text"))).orderBy("doc_id")


def _hits_sql(pat: str) -> str:
    return (
        "CAST(len(regexp_extract_all(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),"
        f" '\\b{pat}\\b')) AS INT)"
    )


_LANG_ID_SQL = f"""
SELECT doc_id,
       {_hits_sql(_MARKERS['en'])} AS en_hits,
       {_hits_sql(_MARKERS['es'])} AS es_hits,
       {_hits_sql(_MARKERS['zh'])} AS zh_hits,
       CASE WHEN {_hits_sql(_MARKERS['en'])} >= {_hits_sql(_MARKERS['es'])}
             AND {_hits_sql(_MARKERS['en'])} >= {_hits_sql(_MARKERS['zh'])} THEN 'en'
            WHEN {_hits_sql(_MARKERS['es'])} >= {_hits_sql(_MARKERS['zh'])} THEN 'es'
            ELSE 'zh' END AS pred_lang
FROM documents
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# language ID — hashed char-ngram linear scorer (Cavnar–Trenkle profiles)
# ---------------------------------------------------------------------------
# Rank-ordered character-trigram profiles per language (Cavnar & Trenkle
# 1994, "N-Gram-Based Text Categorization"): the classic public langid
# method — score(text, lang) = Σ_trigram weight(rank) · count(trigram).
# Profiles are the well-known most-frequent trigrams of each language over
# a lowercased [a-z0-9 ] alphabet (zh via pinyin romanization), weights are
# inverse rank (20 … 1).  This upgrades the 5-marker-word heuristic
# (`lang_id_cols` above) to a real n-gram model while staying a pure
# Catalyst scan+project with an exact integer-score SQL oracle.
#
# Counting shape (measured): each UNIQUE profile trigram is counted once by
# replace-length arithmetic — cnt = (len(p) - len(replace(p, tg))) / 3 —
# a flat whole-stage-codegen expression shared across the languages that
# list the trigram; scores are then integer linear combinations.  A first
# cut built the doc's trigram array and ran one `aggregate` map-lookup per
# language: the interpreted higher-order loop (map literal re-evaluated per
# element) cost ~10 s at sf0.1 vs <1 s for this formulation.  Counts are
# non-overlapping (replace semantics, mirrored exactly by the oracle) —
# indistinguishable from overlapping counts for these profiles unless the
# text contains periodic runs of a profile trigram.
_NGRAM_PROFILES: dict[str, list[str]] = {
    "en": [" th", "the", "he ", "ing", "ng ", " an", "and", "nd ", " of",
           "of ", "ion", "on ", "ed ", " to", "to ", "er ", "ent", " in",
           "in ", "at "],
    "es": [" de", "de ", " la", "la ", "os ", "as ", " qu", "que", "ue ",
           " el", "el ", " en", "en ", "ion", "on ", "ar ", "nte", "ent",
           " co", "es "],
    "de": ["er ", "en ", " de", "der", "ie ", " di", "die", "ich", "ch ",
           "sch", "che", "und", " un", "nd ", "ung", "ein", " ei", "ten",
           "cht", "ber"],
    "fr": [" de", "de ", " le", "le ", "es ", "ent", "nt ", " la", "la ",
           "e d", "ion", "on ", "re ", " et", "et ", " qu", "que", "ue ",
           "les", "our"],
    "zh": ["de ", "shi", "hi ", " sh", "ang", "ng ", "ian", "an ", " zh",
           "zhi", "eng", "ong", " bu", "bu ", "uo ", " yi", "yi ", "ao ",
           " ma", "ma "],
}
_NGRAM_LANGS = list(_NGRAM_PROFILES)  # fixed priority order for tie-breaks


def _ngram_weights(lang: str) -> list[tuple[str, int]]:
    prof = _NGRAM_PROFILES[lang]
    return [(tg, len(prof) - i) for i, tg in enumerate(prof)]


def padded_col(text: Column) -> Column:
    """Normalized trigram-counting surface: lower, non-alnum runs -> single
    space, one space of padding each side."""
    return F.concat(
        F.lit(" "), F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "), F.lit(" ")
    )


def lang_ngram_score_cols(p: Column) -> list[Column]:
    """Per-language integer profile scores over the padded text (from
    :func:`padded_col`).  Each unique trigram is counted by one shared
    replace-length expression; integer scores keep the oracle hash-exact.
    Callers must SELECT these as their own projection and build the
    prediction from the resulting attributes (:func:`lang_ngram_pred_col`)
    — embedding the scores into the argmax cascade re-expands each ~20-term
    sum up to 5×, a ~500-node plan whose analysis+codegen cost ~8 s per run
    (measured at sf0.01; data cost is negligible)."""
    uniq = {tg for prof in _NGRAM_PROFILES.values() for tg in prof}
    cnt = {
        tg: ((F.length(p) - F.length(F.replace(p, F.lit(tg)))) / 3).cast("int")
        for tg in uniq
    }
    scores: list[Column] = []
    for lang in _NGRAM_LANGS:
        s = None
        for tg, w in _ngram_weights(lang):
            term = cnt[tg] * w
            s = term if s is None else (s + term)
        scores.append(s.cast("int").alias(f"ng_{lang}"))
    return scores


def lang_ngram_pred_col() -> Column:
    """Argmax over the staged ``ng_<lang>`` score attributes; ties break on
    the fixed `_NGRAM_LANGS` order."""
    scores = {lang: F.col(f"ng_{lang}") for lang in _NGRAM_LANGS}
    pred = F.lit(_NGRAM_LANGS[-1])
    for i in range(len(_NGRAM_LANGS) - 2, -1, -1):
        lang = _NGRAM_LANGS[i]
        cond = None
        for other in _NGRAM_LANGS[i + 1 :]:
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return pred.alias("pred_lang_ngram")


def q_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone face of the n-gram scorer, called by
    ``examples/demo_corpus_pipeline.py``.  Not registered: the
    ``t_text_profile`` driver row carries the same columns into the hard
    signal."""
    docs = _t(spark, sf_dir, "documents")
    # stage p: inlining it would re-embed the normalize regex into every
    # count term (1000 regexp_replace instances in the plan, measured ~4 s
    # codegen compile per run); CollapseProject's duplicate-expensive-expr
    # guard keeps the staged projection, so the regex runs once per row
    staged = docs.select("doc_id", padded_col(F.col("text")).alias("p"))
    scored = staged.select("doc_id", *lang_ngram_score_cols(F.col("p")))
    return scored.select("*", lang_ngram_pred_col()).orderBy("doc_id")


_PADDED_SQL = (
    "' ' || regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g') || ' '"
)


def _ngram_score_sql(lang: str) -> str:
    terms = " + ".join(
        f"CAST((length(p) - length(replace(p, '{tg}', ''))) / 3 AS INT) * {w}"
        for tg, w in _ngram_weights(lang)
    )
    return f"CAST({terms} AS INT)"


def _ngram_pred_sql() -> str:
    whens = []
    for i, lang in enumerate(_NGRAM_LANGS[:-1]):
        cond = " AND ".join(
            f"ng_{lang} >= ng_{other}" for other in _NGRAM_LANGS[i + 1 :]
        )
        whens.append(f"WHEN {cond} THEN '{lang}'")
    return "CASE " + " ".join(whens) + f" ELSE '{_NGRAM_LANGS[-1]}' END"


_LANG_NGRAM_SQL = f"""
WITH padded AS (
  SELECT doc_id, {_PADDED_SQL} AS p FROM documents
), scored AS (
  SELECT doc_id,
         {", ".join(f"{_ngram_score_sql(l)} AS ng_{l}" for l in _NGRAM_LANGS)}
  FROM padded
)
SELECT doc_id, {", ".join(f"ng_{l}" for l in _NGRAM_LANGS)},
       {_ngram_pred_sql()} AS pred_lang_ngram
FROM scored
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# quality scoring — length / punctuation / stopword / repetition cues
# ---------------------------------------------------------------------------
def quality_cols(toks: Column, text: Column) -> list[Column]:
    n_tok = F.size(toks)
    n_chars = F.length(text)
    uniq_ratio = F.when(n_tok > 0, F.size(F.array_distinct(toks)) / n_tok).otherwise(0.0)
    punct_ratio = F.when(
        n_chars > 0,
        F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), F.lit(0))) / n_chars,
    ).otherwise(0.0)
    stop_ratio = F.when(
        n_tok > 0,
        F.size(F.filter(toks, lambda x: x.isin("the", "a", "of", "and", "is"))) / n_tok,
    ).otherwise(0.0)
    mean_len = F.when(n_tok > 0, F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x)) / n_tok).otherwise(0.0)
    score = (
        F.least(n_tok / 100.0, F.lit(1.0)) * 0.4
        + uniq_ratio * 0.3
        + (1.0 - F.least(punct_ratio * 10.0, F.lit(1.0))) * 0.2
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.1
    )
    return [
        F.round(uniq_ratio, 6).alias("uniq_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(mean_len, 6).alias("mean_token_len"),
        F.round(score, 6).alias("quality"),
    ]


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    return docs.select("doc_id", *quality_cols(toks, F.col("text"))).orderBy("doc_id")


_QUALITY_SQL = f"""
WITH base AS (
  SELECT doc_id, text, {_TOKENS_SQL} AS toks, length(text) AS n_chars
  FROM documents
), stats AS (
  SELECT doc_id,
         len(toks) AS n_tok,
         CASE WHEN len(toks) > 0 THEN len(list_distinct(toks)) * 1.0 / len(toks) ELSE 0.0 END AS uniq_ratio,
         CASE WHEN n_chars > 0
              THEN len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0 / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) * 1.0 / len(toks)
              ELSE 0.0 END AS stop_ratio,
         CASE WHEN len(toks) > 0
              THEN list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks)
              ELSE 0.0 END AS mean_token_len
  FROM base
)
SELECT doc_id,
       ROUND(uniq_ratio, 6) AS uniq_ratio,
       ROUND(stop_ratio, 6) AS stop_ratio,
       ROUND(mean_token_len, 6) AS mean_token_len,
       ROUND(LEAST(n_tok / 100.0, 1.0) * 0.4
             + uniq_ratio * 0.3
             + (1.0 - LEAST(punct_ratio * 10.0, 1.0)) * 0.2
             + LEAST(stop_ratio * 5.0, 1.0) * 0.1, 6) AS quality
FROM stats
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# document fingerprint — min rolling-window hash (winnowing-style)
# ---------------------------------------------------------------------------
_WIN, _STRIDE = 16, 8


def fingerprint_col(text: Column) -> Column:
    n_win = F.floor((F.length(text) - _WIN) / _STRIDE).cast("int")
    windows = F.transform(
        F.sequence(F.lit(0), n_win),
        lambda i: F.md5(F.substring(text, F.lit(1) + i * _STRIDE, _WIN)),
    )
    return F.when(F.length(text) >= _WIN, F.array_min(windows)).otherwise(
        F.md5(text)
    ).alias("fingerprint")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_col(F.col("text"))).orderBy("doc_id")


_FINGERPRINT_SQL = f"""
SELECT doc_id,
       CASE WHEN length(text) >= {_WIN}
            THEN list_min(list_transform(
                   range(0, CAST(floor((length(text) - {_WIN}) * 1.0 / {_STRIDE}) AS INT) + 1),
                   i -> md5(substr(text, 1 + i * {_STRIDE}, {_WIN}))))
            ELSE md5(text) END AS fingerprint
FROM documents
ORDER BY doc_id
"""


# t_token_count / t_lang_id / t_quality_score / t_fingerprint are driver-
# surfaced through operators.profile.q_text_profile (one scan, all columns;
# the driver caps correctness rows at 50 — see profile.py).  The standalone
# q_* functions and SQL stay exported for tests and pipeline composition.
