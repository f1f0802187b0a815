"""URL/domain crawl-curation layer: canonicalization, registrable domains (PSL), per-domain rollups and gates, robots.txt compliance, URL dedup, domain-keyed splits."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from route81_spark.materialize import pin
from route81_spark.pipeline import apply_pipeline
from ._shared import _W_SCHEME_RE, _W_SUFFIX_IN, _W_TRACK_RE, _docs_ids, _q, _t, _wh60, _wpick

def _url_syn_sql(x: str = "CAST(doc_id AS VARCHAR)") -> str:
    return (
        _wpick("['http','HTTPS','https','HTTP']", _wh60("url0|sch", x), 4)
        + " || '://' || "
        + _wpick("['','www.','WWW.','blog.']", _wh60("url0|sub", x), 4)
        + " || "
        + _wpick("['site','Site','SITE']", _wh60("url0|case", x), 3)
        + f" || CAST({_wh60('url0|dom', x)} % 40 AS VARCHAR) || '.' || "
        + _wpick(
            "['com','org','net','io','co.uk','ac.uk','com.au','de']",
            f"({_wh60('url0|dom', x)} % 40)",
            8,
        )
        + " || "
        + _wpick("['',':80',':443',':8080']", _wh60("url0|port", x), 4)
        + " || (['', '/', '/p/' || CAST("
        + _wh60("url0|path", x)
        + " % 50 AS VARCHAR), '/p/' || CAST("
        + _wh60("url0|path", x)
        + " % 50 AS VARCHAR) || '/x.html'])[CAST("
        + _wh60("url0|path", x)
        + " % 4 AS INT) + 1] || "
        + _wpick(
            "['','?b=2&a=1','?utm_source=feed&a=1','?z=9&utm_campaign=c',"
            "'?a=1&z=9&b=2','?ref=home']",
            _wh60("url0|q", x),
            6,
        )
        + f" || CASE WHEN {_wh60('url0|f', x)} % 3 = 0 THEN '#sec2' ELSE '' END"
    )

_URL_SYN = _url_syn_sql()

def _w_host_sql(u: str) -> str:
    # bracket alternation mirrors ops.web._HOST_RE: a bracketed IPv6
    # authority is the whole '[...]' literal, not text-up-to-first-colon
    return (
        f"lower(regexp_extract(regexp_extract(regexp_extract({u}, "
        f"'^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1), "
        f"'^(?:[^@]*@)?(.*)$', 1), '^(\\[[^\\]]*\\]|[^:]*)', 1))"
    )

def _w_dom_sql(host: str) -> str:
    """Registrable domain via DuckDB negative list indexing (a
    different shape from Spark's size-relative F.get probes); the
    trailing-dot FQDN fold mirrors the Spark side."""
    ls = f"string_split(regexp_replace({host}, '\\.$', ''), '.')"
    last2 = f"({ls})[-2] || '.' || ({ls})[-1]"
    last3 = f"({ls})[-3] || '.' || {last2}"
    return (
        f"CASE WHEN regexp_matches(regexp_replace({host}, '\\.$', ''), "
        f"'^[0-9]+(\\.[0-9]+){{3}}$') "
        f"OR starts_with(regexp_replace({host}, '\\.$', ''), '[') THEN NULL "
        f"WHEN len({ls}) >= 3 AND {last2} IN {_W_SUFFIX_IN} THEN {last3} "
        f"WHEN len({ls}) >= 2 AND NOT ({last2} IN {_W_SUFFIX_IN}) THEN {last2} "
        f"ELSE NULL END"
    )

def _w_canon_sql(u: str) -> str:
    """DuckDB twin of ops.web.url_canonicalize — identical RE2-safe
    regexes, list ops for the query-param sort."""
    sch = f"lower(regexp_extract({u}, {_W_SCHEME_RE}, 1))"
    auth = (
        f"regexp_extract(regexp_extract({u}, "
        f"'^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1), "
        f"'^(?:[^@]*@)?(.*)$', 1)"
    )
    host = f"lower(regexp_extract({auth}, '^(\\[[^\\]]*\\]|[^:]*)', 1))"
    port = f"regexp_extract({auth}, '^(?:\\[[^\\]]*\\]|[^:]*):([0-9]+)$', 1)"
    portpart = (
        f"CASE WHEN {port} = '' OR ({sch} = 'http' AND {port} = '80') "
        f"OR ({sch} = 'https' AND {port} = '443') THEN '' "
        f"ELSE ':' || {port} END"
    )
    path = (
        f"regexp_extract({u}, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1)"
    )
    pathpart = f"CASE WHEN {path} = '' THEN '/' ELSE {path} END"
    q = f"regexp_extract({u}, '^[^?#]*\\?([^#]*)', 1)"
    # array_to_string of an EMPTY list is NULL in DuckDB -> coalesce
    qs = (
        f"coalesce(array_to_string(list_sort(list_filter(string_split({q}, '&'), "
        f"x -> x <> '' AND NOT regexp_matches(x, {_W_TRACK_RE}))), '&'), '')"
    )
    qpart = f"CASE WHEN {qs} = '' THEN '' ELSE '?' || {qs} END"
    return (
        f"CASE WHEN {sch} = '' THEN NULL "
        f"ELSE {sch} || '://' || {host} || {portpart} || {pathpart} || {qpart} END"
    )

@_q(
    "corpus_url_canon",
    "WITH syn AS (SELECT doc_id, " + _URL_SYN + " AS url FROM documents),\n"
    "     c AS (SELECT doc_id, url, " + _w_canon_sql("url") + " AS canon,\n"
    "                  " + _w_host_sql("url") + " AS host FROM syn)\n"
    "SELECT doc_id, url, canon, host, "
    + _w_dom_sql("host")
    + " AS domain FROM c",
)
def corpus_url_canon(spark, sf_dir):
    """Crawl stage 1: URL canonicalization + registrable-domain
    extraction over deterministic synthetic URLs (every canonicalizer
    branch exercised: mixed-case scheme/host, default + non-default
    ports, empty paths, unsorted query strings with tracking params,
    fragments, multi-label public suffixes). Routed through the
    $urlCanon pipeline stage so stage==op parity is part of the gate.
    Pure-Column map work — zero shuffle, zero Python."""
    from route81_spark.ops.web import synthetic_urls

    docs = synthetic_urls(_t(spark, sf_dir, "documents"))
    out = apply_pipeline(
        docs,
        [{"$urlCanon": {"field": "url", "as": "canon",
                        "hostAs": "host", "domainAs": "domain"}}],
    )
    return out.select("doc_id", "url", "canon", "host", "domain")

@_q(
    "corpus_domain_stats",
    # independently shaped: DuckDB counts distinct text/lang hashes
    # directly; Spark rolls (domain, text-hash) partials into a
    # domain-key agg so text never shuffles
    "WITH syn AS (SELECT doc_id, text, lang, " + _URL_SYN
    + " AS url FROM documents),\n"
    "     d AS (SELECT "
    + _w_dom_sql(_w_host_sql("url"))
    + " AS domain,\n"
    "                  ('0x' || substr(md5('domstats|t|' || text), 1, 15))::BIGINT AS th,\n"
    "                  ('0x' || substr(md5('domstats|l|' || lang), 1, 15))::BIGINT AS lh,\n"
    "                  length(text) AS ch FROM syn)\n"
    "SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,\n"
    "       CAST(count(*) - count(DISTINCT th) AS BIGINT) AS n_dup_docs,\n"
    "       CAST(sum(ch) AS BIGINT) AS total_chars,\n"
    "       CAST(count(DISTINCT lh) AS BIGINT) AS n_langs\n"
    "FROM d GROUP BY domain",
)
def corpus_domain_stats(spark, sf_dir):
    """Per-registrable-domain crawl rollup (doc count, exact-dup doc
    count, total chars, distinct langs) — the signals a domain-level
    quality gate ranks on. Text is hashed in the scan projection;
    only (domain, 60-bit hash, int) rows ever shuffle."""
    from route81_spark.ops.web import domain_stats, synthetic_urls

    docs = synthetic_urls(_t(spark, sf_dir, "documents"))
    return domain_stats(docs)

@_q(
    "corpus_domain_filter",
    "WITH syn AS (SELECT doc_id, " + _URL_SYN + " AS url FROM documents),\n"
    "     d AS (SELECT doc_id, "
    + _w_dom_sql(_w_host_sql("url"))
    + " AS domain FROM syn)\n"
    "SELECT doc_id, domain FROM d\n"
    "WHERE domain NOT IN ('site4.co.uk', 'site7.de', 'site16.com')",
)
def corpus_domain_filter(spark, sf_dir):
    """Domain blocklist gate via the $domainFilter stage: drop every
    document whose registrable domain is blocklisted (plan-literal IN
    — map-only, zero shuffle; a million-entry blocklist becomes a
    broadcast anti-join with the same fact-side shape)."""
    from route81_spark.ops.web import synthetic_urls

    docs = synthetic_urls(_t(spark, sf_dir, "documents"))
    out = apply_pipeline(
        docs,
        [
            {"$urlCanon": {"field": "url", "as": "canon",
                           "domainAs": "domain"}},
            {"$domainFilter": {
                "field": "url",
                "block": ["site4.co.uk", "site7.de", "site16.com"],
            }},
        ],
    )
    return out.select("doc_id", "domain")

@_q(
    "corpus_url_dedup",
    # URLs pair up (both twins derive from k = doc_id with the low bit
    # cleared); the odd twin carries canon-invisible noise (a tracking
    # param + fragment) so every pair MUST collapse to the even id —
    # the collapse itself proves the tracking-strip / sort / fragment
    # semantics end to end
    "WITH syn AS (SELECT doc_id, "
    + _url_syn_sql("CAST(doc_id - doc_id % 2 AS VARCHAR)")
    + " AS base FROM documents),\n"
    "     u AS (SELECT doc_id,\n"
    "           CASE WHEN doc_id % 2 = 1 THEN base ||\n"
    "                CASE WHEN contains(base, '?')\n"
    "                     THEN '&utm_source=pairnoise#dup'\n"
    "                     ELSE '?utm_source=pairnoise#dup' END\n"
    "                ELSE base END AS url FROM syn),\n"
    "     c AS (SELECT doc_id, " + _w_canon_sql("url") + " AS canon_url FROM u)\n"
    "SELECT min(doc_id) AS doc_id, canon_url FROM c GROUP BY canon_url",
)
def corpus_url_dedup(spark, sf_dir):
    """Keep-first dedup by canonical URL — the crawl step right after
    canonicalization. Planted pair structure: twin docs share a base
    URL, the odd twin adds tracking-param + fragment noise the
    canonicalizer must erase, so survivors are exactly the even ids.
    One (canon, min-id) agg; documents never shuffle."""
    from route81_spark.ops.web import synthetic_urls, url_dedup

    docs = _docs_ids(spark, sf_dir)
    base = docs.withColumn("__k", F.col("doc_id") - F.col("doc_id") % 2)
    u = synthetic_urls(base, id_col="__k")
    noisy = F.when(
        F.col("doc_id") % 2 == 1,
        F.concat(
            F.col("url"),
            F.when(
                F.col("url").contains("?"),
                F.lit("&utm_source=pairnoise#dup"),
            ).otherwise(F.lit("?utm_source=pairnoise#dup")),
        ),
    ).otherwise(F.col("url"))
    return url_dedup(u.withColumn("url", noisy))

@_q(
    "corpus_domain_gate",
    # domains whose md5 slice % 5 == 0 get ALL their docs templated
    # (exact dups) -> dup share ~1, far past the 1/4 gate; every other
    # domain keeps its organic (distinct) texts and passes
    "WITH syn AS (SELECT doc_id, lang, text, " + _URL_SYN
    + " AS url FROM documents),\n"
    "     d AS (SELECT doc_id, lang, "
    + _w_dom_sql(_w_host_sql("url"))
    + " AS domain,\n"
    "                  CASE WHEN ('0x' || substr(md5('tmpl|' || "
    + _w_dom_sql(_w_host_sql("url"))
    + "), 1, 15))::BIGINT % 5 = 0\n"
    "                       THEN 'template boilerplate page' ELSE text END AS t2\n"
    "           FROM syn),\n"
    "     st AS (SELECT domain, count(*) AS n_docs,\n"
    "                   count(*) - count(DISTINCT md5(t2)) AS n_dup\n"
    "            FROM d GROUP BY domain),\n"
    "     losers AS (SELECT domain FROM st WHERE n_dup * 4 > n_docs * 1)\n"
    "SELECT doc_id, lang, domain FROM d\n"
    "WHERE domain NOT IN (SELECT domain FROM losers)",
)
def corpus_domain_gate(spark, sf_dir):
    """Domain-level quality gate: domains whose exact-dup share
    exceeds 1/4 fail AS A UNIT (template farms / mirrored hosts — the
    long tail per-document gates miss). Dup structure is planted by
    templating every doc on ~1/5 of domains; the gate must drop
    exactly those. Rollup shuffles only hashes; the loser list joins
    back broadcast-anti."""
    from route81_spark.ops.web import (
        domain_gate,
        registrable_domain,
        synthetic_urls,
        url_host,
    )
    from route81_spark.ops.web import _h60 as _wh

    docs = synthetic_urls(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    dom = registrable_domain(url_host(F.col("url")))
    # PSL domain extraction is a very large per-row CASE: compute it
    # ONCE behind a 1-element explode (a Generate barrier
    # CollapseProject cannot cross) and let the template plant, the
    # gate rollup, the gate anti-join and the final projection all
    # read the bound column — the former form re-derived it 4x per row.
    # The extraction is computed in its OWN projection and the Generate
    # consumes the attribute: registrable_domain now applies through a
    # SQL temp function, and Spark rejects SQL-function calls inside a
    # Generate (UNSUPPORTED_SQL_UDF_USAGE); the barrier semantics are
    # unchanged (the optimizer cannot collapse a Project into a
    # Generate's generator, so the chain still evaluates once).
    bound = docs.select(
        "doc_id", "lang", "text", dom.alias("__dom0")
    ).select(
        "doc_id", "lang", "text",
        F.explode(F.array(F.col("__dom0"))).alias("__dom"),
    )
    planted = bound.select(
        "doc_id",
        "lang",
        F.when(
            _wh(F.col("__dom"), "tmpl") % 5 == 0,
            F.lit("template boilerplate page"),
        ).otherwise(F.col("text")).alias("text"),
        "__dom",
    )
    out = domain_gate(planted, max_dup_ratio=(1, 4), domain_col="__dom")
    return out.select("doc_id", "lang", F.col("__dom").alias("domain"))

@_q(
    "corpus_robots_filter",
    # independently-shaped oracle: Spark REALLY parses every robots.txt
    # body (comment strip, UA runs, group isolation, empty-Disallow,
    # Allow carve-outs); the oracle never parses — it derives each
    # domain's effective rule set {Disallow ('/p/' or '/p/'||h%50),
    # Disallow '/admin', and for h%5==0 the Allow '/p/1' carve-out}
    # straight from the md5 slices the generator used, and re-applies
    # the LONGEST-MATCH rule (most specific wins; Allow beats on ties)
    "WITH syn AS (SELECT doc_id, " + _URL_SYN + " AS url FROM documents),\n"
    "     d AS (SELECT doc_id, "
    + _w_dom_sql(_w_host_sql("url"))
    + " AS domain,\n"
    "            " + _w_canon_sql("url") + " AS canon FROM syn),\n"
    "     p AS (SELECT doc_id, domain,\n"
    "            regexp_extract(canon, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1) AS path\n"
    "           FROM d),\n"
    "     r AS (SELECT doc_id, domain, path,\n"
    "            ('0x' || substr(md5('robots0|' || domain), 1, 15))::BIGINT AS rh\n"
    "           FROM p),\n"
    "     m AS (SELECT doc_id, domain, path, rh,\n"
    "            GREATEST(\n"
    "              CASE WHEN starts_with(path, CASE WHEN rh % 5 = 0 THEN '/p/'\n"
    "                        ELSE '/p/' || CAST(rh % 50 AS VARCHAR) END)\n"
    "                   THEN length(CASE WHEN rh % 5 = 0 THEN '/p/'\n"
    "                        ELSE '/p/' || CAST(rh % 50 AS VARCHAR) END) ELSE 0 END,\n"
    "              CASE WHEN starts_with(path, '/admin') THEN 6 ELSE 0 END) AS dmax,\n"
    "            CASE WHEN rh % 5 = 0 AND starts_with(path, '/p/1')\n"
    "                 THEN 4 ELSE 0 END AS amax\n"
    "           FROM r)\n"
    "SELECT doc_id, domain, path FROM m\n"
    "WHERE NOT (rh % 4 <> 0 AND dmax > amax)",
)
def corpus_robots_filter(spark, sf_dir):
    """robots.txt compliance over the crawl table: parse every body's
    `User-agent: *` group (comment strip, User-agent runs, decoy-group
    isolation, empty-Disallow allow-all) into Disallow prefixes, then
    drop documents whose canonical path matches a prefix of their
    domain's rules; domains without robots allow everything. Robots
    tables are domain-bounded -> the parsed prefixes broadcast; the
    crawl side never shuffles."""
    from route81_spark.ops.web import (
        registrable_domain,
        robots_filter,
        synthetic_robots,
        synthetic_urls,
        url_canonicalize,
        url_host,
    )
    from route81_spark.ops.web import _SCHEME as _SCH

    docs = synthetic_urls(_docs_ids(spark, sf_dir))
    out = robots_filter(docs, synthetic_robots(spark))
    canon = url_canonicalize(F.col("url"))
    return out.select(
        "doc_id",
        registrable_domain(url_host(F.col("url"))).alias("domain"),
        F.regexp_extract(canon, _SCH + r"[^/?#]*([^?#]*)", 2).alias("path"),
    )

@_q(
    "corpus_domain_split",
    # leakage-safe split: the side is a hash of the DOMAIN, so every
    # doc of a domain (and with it the near-dup mass that lives inside
    # domains) lands on ONE side — nothing straddles train/val
    "WITH syn AS (SELECT doc_id, " + _URL_SYN + " AS url FROM documents),\n"
    "     d AS (SELECT doc_id, "
    + _w_dom_sql(_w_host_sql("url"))
    + " AS domain FROM syn)\n"
    "SELECT doc_id, domain,\n"
    "       CASE WHEN ('0x' || substr(md5('domsplit0|' || domain), 1, 15))::BIGINT\n"
    "                 / CAST(2 ** 60 AS DOUBLE) < 0.2 THEN 'val' ELSE 'train' END AS split\n"
    "FROM d",
)
def corpus_domain_split(spark, sf_dir):
    """Leakage-safe train/val split: the deterministic split hash keys
    on the REGISTRABLE DOMAIN, not the doc id, so template families and
    near-dups (which overwhelmingly live within a domain) can never
    straddle the split — the standard holdout-contamination guard.
    Pure composition: registrable_domain feeds train_val_split's
    id_col. Zero shuffle; assignment survives reruns and appends."""
    from route81_spark.ops.corpus import train_val_split
    from route81_spark.ops.web import (
        registrable_domain,
        synthetic_urls,
        url_host,
    )

    docs = synthetic_urls(_docs_ids(spark, sf_dir))
    dom = registrable_domain(url_host(F.col("url")))
    with_dom = docs.select("doc_id", dom.alias("domain"))
    return train_val_split(
        with_dom, id_col="domain", val_fraction=0.2, seed="domsplit0"
    ).select("doc_id", "domain", "split")

@_q(
    "corpus_psl_domains",
    # independently-shaped oracle: Spark runs the REAL PSL longest-match
    # algorithm (broadcast rule-table mode over the vendored snapshot);
    # the oracle never matches rules — it derives each host family's
    # registrable domain STRUCTURALLY from the same md5 slices the
    # generator used (family f knows its own answer shape)
    "WITH h AS (SELECT doc_id,\n"
    f"            {_wh60('psl0')} % 12 AS f,\n"
    f"            CAST({_wh60('psl0')} % 50 AS VARCHAR) AS k\n"
    "            FROM documents),\n"
    "     s AS (SELECT doc_id, f,\n"
    "            CASE f\n"
    "              WHEN 0 THEN 'www.site' || k || '.com'\n"
    "              WHEN 1 THEN 'site' || k || '.co.uk'\n"
    "              WHEN 2 THEN 'a.b.site' || k || '.xyz'\n"
    "              WHEN 3 THEN 'www.site' || k || '.ck'\n"
    "              WHEN 4 THEN 'site' || k || '.ck'\n"
    "              WHEN 5 THEN 'www.ck'\n"
    "              WHEN 6 THEN 'sub' || k || '.www.ck'\n"
    "              WHEN 7 THEN 'x' || k || '.city.kobe.jp'\n"
    "              WHEN 8 THEN 'y' || k || '.site' || k || '.kobe.jp'\n"
    "              WHEN 9 THEN 'www.school' || k || '.k12.ma.us'\n"
    "              WHEN 10 THEN '10.' || CAST(("
    f"{_wh60('psl0')} % 50) % 250 AS VARCHAR) || '.0.1'\n"
    "              ELSE 'localhost' END AS host,\n"
    "            CASE f\n"
    "              WHEN 0 THEN 'site' || k || '.com'\n"
    "              WHEN 1 THEN 'site' || k || '.co.uk'\n"
    "              WHEN 2 THEN 'site' || k || '.xyz'\n"
    "              WHEN 3 THEN 'www.site' || k || '.ck'\n"
    "              WHEN 4 THEN NULL\n"
    "              WHEN 5 THEN 'www.ck'\n"
    "              WHEN 6 THEN 'www.ck'\n"
    "              WHEN 7 THEN 'city.kobe.jp'\n"
    "              WHEN 8 THEN 'y' || k || '.site' || k || '.kobe.jp'\n"
    "              WHEN 9 THEN 'school' || k || '.k12.ma.us'\n"
    "              ELSE NULL END AS domain\n"
    "           FROM h)\n"
    "SELECT doc_id, host, domain FROM s",
)
def corpus_psl_domains(spark, sf_dir):
    """Full public-suffix-list registrable-domain extraction in
    BROADCAST rule-table mode: synthetic hosts cover every grammar
    feature — plain + multi-label normal rules, wildcard `*.ck` tails
    (both the carved-out suffix and the host AT suffix depth -> NULL),
    the `!www.ck` exception family, the Japanese designated-city
    wildcard/exception pair, a 3-label normal rule, the default rule
    on unknown TLDs, IP literals, and single-label hosts. The rule
    table broadcasts; the crawl side is map-only (plan pinned in
    tests/test_psl.py)."""
    from route81_spark.ops.psl import DEFAULT_PSL_RULES, psl_domain_table
    from route81_spark.ops.web import _h60

    docs = _docs_ids(spark, sf_dir)
    h = _h60(F.col("doc_id"), "psl0")
    f = h % 12
    k = (h % 50).cast("string")

    def c(*parts):
        return F.concat(*[p if isinstance(p, Column) else F.lit(p) for p in parts])

    host = (
        F.when(f == 0, c("www.site", k, ".com"))
        .when(f == 1, c("site", k, ".co.uk"))
        .when(f == 2, c("a.b.site", k, ".xyz"))
        .when(f == 3, c("www.site", k, ".ck"))
        .when(f == 4, c("site", k, ".ck"))
        .when(f == 5, F.lit("www.ck"))
        .when(f == 6, c("sub", k, ".www.ck"))
        .when(f == 7, c("x", k, ".city.kobe.jp"))
        .when(f == 8, c("y", k, ".site", k, ".kobe.jp"))
        .when(f == 9, c("www.school", k, ".k12.ma.us"))
        .when(f == 10, c("10.", ((h % 50) % 250).cast("string"), ".0.1"))
        .otherwise(F.lit("localhost"))
    )
    rules_df = spark.createDataFrame(
        [(r,) for r in DEFAULT_PSL_RULES], "rule string"
    )
    return psl_domain_table(
        docs.withColumn("host", host), rules_df, host_col="host"
    ).select("doc_id", "host", "domain")


@_q(
    "corpus_crawl_funnel",
    # END-TO-END crawl funnel — the composed user workload: canonicalize
    # -> keep-first URL dedup -> domain dup-share gate. Both planted
    # structures are active at once: twin docs share a base URL (the odd
    # twin adds canon-invisible noise, so dedup must collapse pairs) AND
    # ~1/5 of domains are templated (all-identical text, so the gate
    # must drop them as a unit AFTER dedup). The oracle chains the same
    # verified CTE fragments the individual queries use.
    "WITH syn AS (SELECT doc_id, text, "
    + _url_syn_sql("CAST(doc_id - doc_id % 2 AS VARCHAR)")
    + " AS base FROM documents),\n"
    "     u AS (SELECT doc_id, text,\n"
    "           CASE WHEN doc_id % 2 = 1 THEN base ||\n"
    "                CASE WHEN contains(base, '?')\n"
    "                     THEN '&utm_source=pairnoise#dup'\n"
    "                     ELSE '?utm_source=pairnoise#dup' END\n"
    "                ELSE base END AS url FROM syn),\n"
    "     d AS (SELECT doc_id, url, " + _w_canon_sql("url") + " AS canon_url,\n"
    "                  " + _w_dom_sql(_w_host_sql("url")) + " AS domain,\n"
    "                  CASE WHEN ('0x' || substr(md5('tmpl|' || "
    + _w_dom_sql(_w_host_sql("url"))
    + "), 1, 15))::BIGINT % 5 = 0\n"
    "                       THEN 'template boilerplate page' ELSE text END AS t2\n"
    "           FROM u),\n"
    "     win AS (SELECT canon_url, min(doc_id) AS doc_id\n"
    "             FROM d GROUP BY canon_url),\n"
    "     surv AS (SELECT d.* FROM d JOIN win ON d.doc_id = win.doc_id),\n"
    "     st AS (SELECT domain, count(*) AS n,\n"
    "                   count(*) - count(DISTINCT md5(t2)) AS nd\n"
    "            FROM surv WHERE domain IS NOT NULL GROUP BY domain),\n"
    "     losers AS (SELECT domain FROM st WHERE nd * 4 > n * 1)\n"
    "SELECT doc_id, domain, canon_url FROM surv\n"
    "WHERE domain IS NULL OR domain NOT IN (SELECT domain FROM losers)",
)
def corpus_crawl_funnel(spark, sf_dir):
    """The COMPOSED crawl-curation workload a real user runs: messy
    URLs -> canonicalize -> keep-first dedup by canonical URL ->
    domain dup-share gate, with both planted structures active at once
    (URL twin pairs that only canonicalization can collapse, plus
    templated domains that only the post-dedup rollup can drop).
    Composition is the point: it exercises the layers' interaction —
    the winner semi-join feeding the gate's rollup, the bind-once canon
    guard under a longer downstream chain.

    Scale shape: one (canon, min-id) agg shuffles only hash-sized rows;
    the winner-id semi-join on doc_id is the single full-row shuffle
    (the line_dedup rebuild shape); the gate's rollup shuffles (domain,
    hash, int) rows and its loser list applies broadcast-anti. The two
    very large per-row expressions (URL canonicalization, PSL domain
    extraction) are computed ONCE each behind a 1-element explode —
    the Generate barrier CollapseProject cannot cross — and every
    downstream consumer (winner agg, gate rollup, gate anti-join,
    final projection) reads the materialized columns; the former form
    re-derived the PSL CASE four times per row and the plan tree
    carried each copy (r14: plan/analysis time alone was 1.5 s)."""
    from route81_spark.ops.web import (
        _h60,
        domain_gate,
        registrable_domain,
        synthetic_urls,
        url_canonicalize,
        url_host,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.withColumn("__k", F.col("doc_id") - F.col("doc_id") % 2)
    u = synthetic_urls(base, id_col="__k").drop("__k")
    noisy = F.when(
        F.col("doc_id") % 2 == 1,
        F.concat(
            F.col("url"),
            F.when(
                F.col("url").contains("?"),
                F.lit("&utm_source=pairnoise#dup"),
            ).otherwise(F.lit("?utm_source=pairnoise#dup")),
        ),
    ).otherwise(F.col("url"))
    dom = registrable_domain(url_host(F.col("url")))
    # canon + PSL computed in their OWN projection, the Generate
    # consuming only attributes — SQL-function calls (their r14
    # registration) are rejected inside a Generate; barrier semantics
    # unchanged (see corpus_domain_gate)
    bound = u.withColumn("url", noisy).select(
        "doc_id",
        "url",
        "text",
        url_canonicalize(F.col("url")).alias("__c0"),
        dom.alias("__d0"),
    ).select(
        "doc_id",
        "url",
        "text",
        F.explode(
            F.array(
                F.struct(
                    F.col("__c0").alias("c"),
                    F.col("__d0").alias("d"),
                )
            )
        ).alias("__cd"),
    )
    planted = pin(bound.select(
        "doc_id",
        "url",
        F.col("__cd.c").alias("canon_url"),
        F.col("__cd.d").alias("domain"),
        F.when(
            _h60(F.col("__cd.d"), "tmpl") % 5 == 0,
            F.lit("template boilerplate page"),
        ).otherwise(F.col("text")).alias("text"),
    ))
    # url_dedup's (canon, min-id) winner agg, inlined over the bound
    # canon column (url_dedup would re-derive it from the url)
    winners = planted.groupBy("canon_url").agg(
        F.min("doc_id").alias("doc_id")
    )
    survivors = planted.join(winners.select("doc_id"), "doc_id")
    gated = domain_gate(survivors, max_dup_ratio=(1, 4), domain_col="domain")
    return gated.select("doc_id", "domain", "canon_url")
