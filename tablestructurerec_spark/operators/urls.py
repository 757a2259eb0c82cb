"""URL / domain hygiene — the FIRST filter family every real pretraining
pipeline applies (C4, CCNet, RefinedWeb all gate on URL before touching
text): canonicalization, registered-domain extraction against a
public-suffix snapshot, per-domain corpus stats, blocklist + dup-rate
domain filtering, and cross-domain exact-text dedup with a canonical-source
keep policy.

The driver's ``documents`` table carries no ``url`` column (a 100 TB crawl
corpus would), so the family ships a DETERMINISTIC url synthesizer keyed by
``doc_id`` — :func:`synth_url_sql`, one CASE/concat expression shared
VERBATIM by both engines — that exercises every canonicalization rule
(mixed-case schemes and hosts, default and non-default ports, trailing
host dots, tracking params, fragments, multi-label public suffixes, a
dotless host).  The operator body consumes a plain ``url`` column, so a
corpus with real URLs drops in by skipping the synthesizer.

Cross-engine discipline (the langscript/charprofile shared-expression
lesson): the heavy logic is ONE SQL template per stage, rendered for Spark
and DuckDB with exactly two function-name substitutions (``array_join`` vs
``array_to_string``, ``regexp_like`` vs ``regexp_matches`` — probed
equal-semantics aliases everywhere else: ``filter``, ``split``,
``array_sort``, 3-arg anchored ``regexp_replace``, ``regexp_extract`` with
group index, ``''`` on no-match).  All regexes are RE2-and-Java-safe (no
lookaround, no backreference, the hygiene PII rule).

Canonical form (documented policy, pinned by tests):

* scheme and host lowercased; userinfo (``user:pass@``) stripped; ONE
  trailing host dot stripped; a leading ``www.`` label stripped (the
  common crawl-dedup convention — documented as policy, not universal
  truth);
* default ports dropped (``http:80``, ``https:443``), others kept;
* empty path becomes ``/``; fragment dropped;
* query params: tracking params removed (``utm_*``, ``gclid``, ``fbclid``,
  ``msclkid``, ``igshid``, ``ref``, ``ref_src``), the rest SORTED (byte
  order — identical in both engines) so param order never defeats URL-level
  dedup.

Adversarial classes, policy DOCUMENTED and cross-engine-pinned by
``tests/test_urls.py`` (round-5 robustness pass):

* IDN / punycode hosts: ``xn--`` labels pass through VERBATIM (lowercased,
  never IDN-decoded) — canonicalization is byte-level, so the punycode and
  unicode spellings of one host are distinct canonical URLs by design (a
  real pipeline normalizes to punycode at INGEST, before this operator);
* IPv6 literals: ``[2001:db8::1]:8080`` keeps its brackets; the
  end-anchored port rule strips a real port but never bites inside the
  bracketed literal; a bracketed host is dotless → registers as itself;
* percent-encoding: ``%XX`` sequences in path and query pass through
  verbatim (no decode, no case-folding of hex digits) — byte-level
  equality is the dedup contract, and decoding would conflate ``%2F``
  with the path separator;
* userinfo: stripped from the canonical host (see above); a numeric
  password cannot be mistaken for a port (the port pattern is
  end-anchored on the raw authority).

Registered domain: longest matching suffix from a LITERAL public-suffix
snapshot (multi-label entries like ``co.uk`` / ``github.io``), rendered as
a suffix-length-ordered CASE chain shared verbatim by both engines; a
dotless host registers as itself, an unknown multi-label host as its last
two labels.

Spark shape, audited for 100 TB: canonicalize / registered-domain are
map-side expressions.  Domain stats is one ``groupBy(registered_domain)``
partial-agg shuffle (domains are bounded — ~10^7-10^8 at web scale — and
the md5 dup projection happens AT THE SCAN, the snapshot.py discipline),
broadcast back into the per-doc verdict.  Dedup shuffles on ``md5(text)``
(the exact-dedup shape) with the bounded stats broadcast into the group
ranking — never all-pairs.

Output is ordered by doc_id for oracle determinism; a production face
would drop the presentation sort (the flagship-plan note).
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "QUERIES",
    "ORACLE_SQL",
    "q_url_hygiene",
    "url_hygiene_sql",
    "synth_url_sql",
    "PUBLIC_SUFFIX_SNAPSHOT",
    "DOMAIN_BLOCKLIST",
    "TRACKING_PARAM_RE",
    "DUP_PPM_MAX",
]

# --- shared literal policy tables -----------------------------------------

# public-suffix snapshot (multi-label entries; single labels follow the
# default last-two-labels rule).  A real deployment swaps in the full PSL;
# the CASE-chain RENDERING below is the operator, the list is data.
PUBLIC_SUFFIX_SNAPSHOT = [
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "com.cn", "com.mx", "co.in", "co.kr", "co.za",
    "github.io", "gitlab.io", "blogspot.com", "herokuapp.com",
]

DOMAIN_BLOCKLIST = ["ads-network.net", "content-farm.biz"]

TRACKING_PARAM_RE = "^(utm_[a-z]+|gclid|fbclid|msclkid|igshid|ref|ref_src)="

DUP_PPM_MAX = 500_000  # domain filter: drop domains where >50% docs are dups

_SCHEME_RE = "^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOSTPORT_RE = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATH_RE = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
_QUERY_RE = "[?]([^#]*)"

# --- deterministic url fixture (shared VERBATIM by both engines) ----------

_HOST_POOL = [
    # (scheme expr handled below; host strings exercise specific rules)
    "WWW.Example.COM",            # case + www-strip      -> example.com
    "news.example.co.uk",         # multi-label suffix    -> example.co.uk
    "CDN.Static.Example.com:443",  # https default port   -> example.com
    "blog.writer.github.io",      # PSL private suffix    -> writer.github.io
    "Tracker.ADS-Network.net",    # blocklisted           -> ads-network.net
    "shop.example.com.au",        # multi-label suffix    -> example.com.au
    "docs.example.co.jp.",        # trailing dot          -> example.co.jp
    "mirror.example.org:8080",    # non-default port KEPT -> example.org
    "spam.content-farm.biz",      # blocklisted           -> content-farm.biz
    "api.example.net:80",         # http default port     -> example.net
    "localhost",                  # dotless host          -> localhost
    "www.Example.COM",            # canonical twin of 0   -> example.com
]


def synth_url_sql(id_col: str = "doc_id") -> str:
    """Deterministic messy URL from ``doc_id`` — one expression string both
    engines evaluate identically (CASE / % / `||` / implicit int→string)."""
    host_cases = "\n      ".join(
        f"WHEN {i} THEN '{h}'" for i, h in enumerate(_HOST_POOL)
    )
    return f"""(
    CASE CAST({id_col} % 12 AS INT)
      WHEN 2 THEN 'HTTPS'
      WHEN 9 THEN 'http'
      ELSE CASE CAST({id_col} % 3 AS INT)
        WHEN 0 THEN 'https' WHEN 1 THEN 'HTTP' ELSE 'http' END
    END || '://' ||
    CASE CAST({id_col} % 12 AS INT)
      {host_cases}
    END ||
    CASE CAST({id_col} % 3 AS INT)
      WHEN 0 THEN ''
      WHEN 1 THEN '/articles/item' || CAST({id_col} % 7 AS INT)
      ELSE '/a/b/c.html' END ||
    CASE CAST({id_col} % 4 AS INT)
      WHEN 0 THEN '?utm_source=feed&id=' || CAST({id_col} % 97 AS INT)
      WHEN 1 THEN '?id=' || CAST({id_col} % 97 AS INT) || '&utm_campaign=x&ref=tw'
      WHEN 2 THEN '?gclid=abc123'
      ELSE '' END ||
    CASE WHEN {id_col} % 5 = 0 THEN '#section2' ELSE '' END
  )"""


# --- canonicalization (one template, two function-name substitutions) -----


def _canon_parts_sql(url: str, join_fn: str, rx_fn: str) -> Dict[str, str]:
    """Expression strings for the canonical parts of ``url``."""
    scheme = f"lower(regexp_extract({url}, '{_SCHEME_RE}', 1))"
    hostport = f"lower(regexp_extract({url}, '{_HOSTPORT_RE}', 1))"
    # anchored patterns -> 3-arg regexp_replace is first==all in both engines.
    # userinfo ('user:pass@') is stripped FIRST (greedy '^.*@' takes the LAST
    # '@', the RFC 3986 authority split) — crawl URLs carry credentials and
    # session tokens there, and leaving them in would both leak them into
    # the canonical form and defeat URL-level dedup (round-5 robustness
    # pass; policy pinned by tests/test_urls.py adversarial classes)
    host = (
        f"regexp_replace(regexp_replace(regexp_replace(regexp_replace({hostport}, "
        f"'^.*@', ''), ':[0-9]+$', ''), '[.]$', ''), '^www[.]', '')"
    )
    # port stays derived from the raw hostport: ':([0-9]+)$' is end-anchored,
    # so a numeric password ('u:123@host') can never match it
    port = f"regexp_extract({hostport}, ':([0-9]+)$', 1)"
    path = f"regexp_extract({url}, '{_PATH_RE}', 1)"
    # coalesce: DuckDB's array_to_string(NULL-or-empty list) yields NULL
    # where Spark's array_join yields '' — pin the '' convention
    query = (
        f"coalesce({join_fn}(array_sort(filter(split("
        f"regexp_extract({url}, '{_QUERY_RE}', 1), '&'), "
        f"p -> p <> '' AND NOT {rx_fn}(p, '{TRACKING_PARAM_RE}'))), '&'), '')"
    )
    return {
        "scheme": scheme,
        "host": host,
        "port": port,
        "path": path,
        "query": query,
    }


def regdomain_sql(host: str) -> str:
    """Registered-domain extraction over the suffix snapshot — shared
    verbatim by both engines.

    NOT a per-suffix CASE chain: the round-4 form (one ``LIKE`` + one
    ``regexp_extract`` per snapshot entry, ~40 heavyweight expressions)
    stacked into the fused faces blew janino's whole-stage-codegen limits
    (``processNext()`` ~14,300 lines → ``Failed to compile`` → silent
    interpreted fallback, VERDICT r4 #1).  Equivalent compact form: group
    suffixes by label count n (longest first — the PSL longest-match rule);
    if the host's last n labels are IN the n-label suffix set and an
    (n+1)-th label exists, the registered domain is the last n+1 labels.
    One regexp_extract per label-count group + an IN list (compiles to a
    hash-set ``InSet``) instead of 2 expressions per suffix — O(label
    depths), not O(snapshot size), so a full PSL swap-in (~9k entries)
    stays codegen-safe.  Semantics pinned identical by the rule goldens and
    the host==suffix / dotless-host edge cases in test_urls.py."""

    def _lastn(n: int) -> str:
        pat = "[.]".join(["[^.]+"] * n)
        return f"regexp_extract({host}, '({pat})$', 1)"

    by_n: Dict[int, list] = {}
    for s in PUBLIC_SUFFIX_SNAPSHOT:
        by_n.setdefault(s.count(".") + 1, []).append(s)
    branches = "\n  ".join(
        f"WHEN {_lastn(n)} IN ({', '.join(repr(s) for s in sorted(by_n[n]))}) "
        f"AND {_lastn(n + 1)} <> '' THEN {_lastn(n + 1)}"
        for n in sorted(by_n, reverse=True)
    )
    return f"""CASE
  WHEN {host} NOT LIKE '%.%' THEN {host}
  {branches}
  ELSE regexp_extract({host}, '([^.]+[.][^.]+)$', 1)
END"""


_CANON_ASSEMBLE = (
    "scheme || '://' || host || "
    "CASE WHEN port = '' THEN '' "
    "WHEN scheme = 'http' AND port = '80' THEN '' "
    "WHEN scheme = 'https' AND port = '443' THEN '' "
    "ELSE ':' || port END || "
    "CASE WHEN path = '' THEN '/' ELSE path END || "
    "CASE WHEN query = '' THEN '' ELSE '?' || query END"
)


def _with_url_parts(docs: DataFrame, url_col: str = "url") -> DataFrame:
    """Spark staging: url → (scheme, host, port, path, query) columns."""
    p = _canon_parts_sql(url_col, "array_join", "regexp_like")
    return docs.select(
        "*",
        F.expr(p["scheme"]).alias("scheme"),
        F.expr(p["host"]).alias("host"),
        F.expr(p["port"]).alias("port"),
        F.expr(p["path"]).alias("path"),
        F.expr(p["query"]).alias("query"),
    )


def _duck_parts_cte(url: str = "url") -> str:
    """DuckDB staging CTE body mirroring :func:`_with_url_parts`."""
    p = _canon_parts_sql(url, "array_to_string", "regexp_matches")
    return (
        f"{p['scheme']} AS scheme, {p['host']} AS host, {p['port']} AS port, "
        f"{p['path']} AS path, {p['query']} AS query"
    )


def with_synth_urls(docs: DataFrame) -> DataFrame:
    """Attach the deterministic url fixture column."""
    return docs.withColumn("url", F.expr(synth_url_sql("doc_id")))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tablestructurerec_spark.sources.read import read_table

    return with_synth_urls(read_table(spark, sf_dir, "documents"))


# --- operators -------------------------------------------------------------


def domain_stats(docs: DataFrame) -> DataFrame:
    """Per registered domain: doc count, exact-dup rate (md5 at the scan —
    the snapshot.py projection discipline), language count."""
    staged = _with_url_parts(docs).select(
        F.expr(regdomain_sql("host")).alias("registered_domain"),
        F.md5(F.col("text")).alias("h"),
        "lang",
    )
    return (
        staged.groupBy("registered_domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("h").alias("n_distinct_texts"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .select(
            "registered_domain",
            "n_docs",
            "n_distinct_texts",
            F.expr(
                "(n_docs - n_distinct_texts) * 1000000 DIV n_docs"
            ).alias("dup_ppm"),
            "n_langs",
        )
        .orderBy("registered_domain")
    )


def url_hygiene(docs: DataFrame) -> DataFrame:
    """FUSED per-doc verdict (the ``t_text_profile`` consolidation
    pattern — VERDICT r3 #6): one row certifies canonicalization,
    registered-domain extraction, domain stats, the blocklist/dup-rate
    filter policy, AND the canonical-source dedup, because the composed
    oracle recomputes every stage.  Columns: ``(doc_id, canonical_url,
    registered_domain, dup_ppm, keep, reason, canonical_doc_id,
    is_canonical)``."""
    from pyspark.sql import Window

    staged = _with_url_parts(docs).select(
        "doc_id",
        F.expr(_CANON_ASSEMBLE).alias("canonical_url"),
        F.expr(regdomain_sql("host")).alias("registered_domain"),
        F.md5(F.col("text")).alias("h"),
    )
    stats = domain_stats(docs).select("registered_domain", "n_docs", "dup_ppm")
    block = F.col("registered_domain").isin(DOMAIN_BLOCKLIST)
    dupy = F.col("dup_ppm") > DUP_PPM_MAX
    ranked = staged.join(F.broadcast(stats), "registered_domain").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("h").orderBy(
                F.desc("n_docs"), F.asc("registered_domain"), F.asc("doc_id")
            )
        ),
    )
    w = Window.partitionBy("h")
    return (
        ranked.select(
            "doc_id",
            "canonical_url",
            "registered_domain",
            "dup_ppm",
            (~block & ~dupy).alias("keep"),
            F.when(block, "blocklist")
            .when(dupy, "dup_rate")
            .otherwise("ok")
            .alias("reason"),
            F.min(F.when(F.col("rk") == 1, F.col("doc_id"))).over(w).alias(
                "canonical_doc_id"
            ),
            (F.col("rk") == 1).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


def q_url_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    return url_hygiene(_docs(spark, sf_dir))


def url_hygiene_sql() -> str:
    block_list = ", ".join(f"'{d}'" for d in DOMAIN_BLOCKLIST)
    return f"""
WITH staged AS (
  SELECT doc_id, text, lang, {synth_url_sql('doc_id')} AS url FROM documents
), parts AS (
  SELECT doc_id, text, lang, url, {_duck_parts_cte('url')} FROM staged
), tagged AS (
  SELECT doc_id,
         {_CANON_ASSEMBLE} AS canonical_url,
         {regdomain_sql('host')} AS registered_domain,
         md5(text) AS h
  FROM parts
), stats AS (
  SELECT registered_domain, count(*) AS n_docs,
         CAST((count(*) - count(DISTINCT h)) * 1000000 // count(*) AS BIGINT) AS dup_ppm
  FROM tagged GROUP BY registered_domain
), ranked AS (
  SELECT t.doc_id, t.canonical_url, t.registered_domain, t.h, s.dup_ppm,
         row_number() OVER (
           PARTITION BY t.h
           ORDER BY s.n_docs DESC, t.registered_domain ASC, t.doc_id ASC
         ) AS rk
  FROM tagged t JOIN stats s USING (registered_domain)
)
SELECT doc_id, canonical_url, registered_domain, dup_ppm,
       (registered_domain NOT IN ({block_list}) AND dup_ppm <= {DUP_PPM_MAX}) AS keep,
       CASE WHEN registered_domain IN ({block_list}) THEN 'blocklist'
            WHEN dup_ppm > {DUP_PPM_MAX} THEN 'dup_rate'
            ELSE 'ok' END AS reason,
       min(CASE WHEN rk = 1 THEN doc_id END) OVER (PARTITION BY h) AS canonical_doc_id,
       rk = 1 AS is_canonical
FROM ranked
ORDER BY doc_id
"""


QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "t_url_hygiene": q_url_hygiene,
}

ORACLE_SQL: Dict[str, str] = {
    "t_url_hygiene": url_hygiene_sql(),
}
