"""SURVEY.md §2.E — web-crawl curation: URL-level dedup and per-host
near-dup (round 6; closes VERDICT r5 task #3, the url_canonicalize →
actual-dedup loop).

Reference scope: samzong/prom-etl-db has no web surface; these are
§2.E training-data-pipeline extensions (a crawl corpus dedups by
canonical URL before any content hashing, then near-dups within host
buckets — cross-host boilerplate collisions are join fan-out with no
dedup value)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prom_etl_db_spark.functions import dedup, mime, robots, sitemap, surt, text, urlnorm, warc
from prom_etl_db_spark.registry.core import _t, register


# URL-dedup fixture algebra: page identity = doc_id // 3 (so up to three
# fetched variants per page), syntactic variant = doc_id % 3. All three
# variants canonicalize to 'http://<host>/p/<page>?a=1&b=2' — variant 0
# is already canonical, 1 adds uppercase scheme/host + default port +
# '/x/..' dot-segments + reversed query order + fragment, 2 adds '/./'
# and a fragment. Host strata by page % 4 exercise the registered-domain
# rules: www + .com, deep subdomain + .co.uk (multi-label public
# suffix), cdn + .org, bare 2-label host under an unlisted TLD.
_URL_HOST_SQL = """CASE pg % 4
    WHEN 0 THEN 'www.site' || pg || '.com'
    WHEN 1 THEN 'a.b.site' || pg || '.co.uk'
    WHEN 2 THEN 'cdn.site' || pg || '.org'
    ELSE 'site' || pg || '.example' END"""
_URL_REGDOM_SQL = """CASE pg % 4
    WHEN 0 THEN 'site' || pg || '.com'
    WHEN 1 THEN 'site' || pg || '.co.uk'
    WHEN 2 THEN 'site' || pg || '.org'
    ELSE 'site' || pg || '.example' END"""


def _url_variants(docs: DataFrame) -> DataFrame:
    """(doc_id, url): the three-variant fixture described above, built
    in-query so the oracle can state every canonical form as a closed
    form of page = doc_id // 3."""
    pg = F.floor(F.col("doc_id") / 3).cast("string")
    host = (
        F.when(
            F.floor(F.col("doc_id") / 3) % 4 == 0,
            F.concat(F.lit("www.site"), pg, F.lit(".com")),
        )
        .when(
            F.floor(F.col("doc_id") / 3) % 4 == 1,
            F.concat(F.lit("a.b.site"), pg, F.lit(".co.uk")),
        )
        .when(
            F.floor(F.col("doc_id") / 3) % 4 == 2,
            F.concat(F.lit("cdn.site"), pg, F.lit(".org")),
        )
        .otherwise(F.concat(F.lit("site"), pg, F.lit(".example")))
    )
    variants = F.array(
        F.concat(F.lit("http://"), host, F.lit("/p/"), pg, F.lit("?a=1&b=2")),
        F.concat(
            F.lit("HTTP://"), F.upper(host), F.lit(":80/p/x/../"), pg,
            F.lit("?b=2&a=1#frag"),
        ),
        F.concat(F.lit("http://"), host, F.lit("/p/./"), pg, F.lit("?a=1&b=2#sec")),
    )
    return docs.select(
        "doc_id",
        F.element_at(variants, (F.col("doc_id") % 3 + 1).cast("int")).alias("url"),
    )


@register(
    "url_dedup",
    oracle=f"""
WITH g AS (
  SELECT CAST(doc_id // 3 AS BIGINT) AS pg,
         CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
         CAST(count(*) AS BIGINT) AS n_dups
  FROM documents GROUP BY 1
)
SELECT 'http://' || {_URL_HOST_SQL} || '/p/' || pg || '?a=1&b=2' AS canonical_url,
       {_URL_HOST_SQL} AS host,
       {_URL_REGDOM_SQL} AS registered_domain,
       keep_doc_id, n_dups
FROM g
""",
)
def url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5/E1 web curation, URL-level dedup (r6): canonicalize → collapse
    every syntactic variant of a page to one surviving fetch, with the
    registered domain (PSL multi-label-suffix rule) alongside for
    per-site grouping. The fixture plants three RFC-3986-distinct
    spellings per page (case, default port, dot-segments, query order,
    fragments) so the GENERAL normalizer (functions/urlnorm.py) must
    collapse them; the oracle replays the group algebra as closed forms
    of page = doc_id // 3 (the url_canonicalize expected-value pattern
    — DuckDB has no URL library to serve as a second implementation).
    Plan: one Arrow-batched projection → one hash aggregation keyed on
    canonical_url; survivors bounded by distinct-page count."""
    docs = _t(spark, sf_dir, "documents")
    return urlnorm.url_dedup(_url_variants(docs))


# Per-host near-dup: the same hot-shingle df-cap discipline as
# ngram_jaccard_pairs (registry/llm_e.py), but df counted WITHIN the
# host block and the pair join restricted to same-host — the blocking
# that keeps Σ|bucket|² per-site at 100 TB.
_HOST_NGRAM_MAX_DF = 100


@register(
    "url_host_neardup_pairs",
    oracle=rf"""
WITH sh AS (
  SELECT doc_id AS id,
         'h' || CAST(doc_id % 16 AS VARCHAR) || '.example.com' AS host,
         list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) AS shingles
  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents)
  WHERE len(w) >= 3
), tok_all AS (
  SELECT id, host, unnest(shingles) AS shingle FROM sh
), tok AS (
  SELECT id, host, shingle FROM tok_all
  QUALIFY count(*) OVER (PARTITION BY host, shingle) <= {_HOST_NGRAM_MAX_DF}
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, a.host AS host, count(*) AS inter
  FROM tok a JOIN tok b
    ON a.shingle = b.shingle AND a.host = b.host AND a.id < b.id
  GROUP BY a.id, b.id, a.host
), sizes AS (
  SELECT id, len(shingles) AS n_sh FROM sh
)
SELECT i.id_a, i.id_b, i.host,
       round(CAST(i.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.inter), 6) AS jaccard
FROM inter i JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b
WHERE CAST(i.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.inter) >= 0.3
""",
)
def url_host_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2/E5 web curation, per-host near-dup (r6): 3-gram Jaccard ≥ 0.3
    pairs restricted to documents on the SAME host (16 synthetic host
    buckets over doc_id % 16) — the within-site boilerplate pass a
    crawl pipeline runs after URL-level dedup. The host key joins as
    part of the shingle equi-join key and the hot-shingle df-cap counts
    per (host, shingle), so every bucket is site-local: worst-case pair
    fan-out is per-site quadratic, never corpus-global (the containment
    the reference gets from day-partitioned deletes,
    /root/reference/internal/database/database.go:116). Oracle replays
    the full blocked shingle-join algebra in SQL."""
    docs = _t(spark, sf_dir, "documents")
    with_host = docs.withColumn(
        "host",
        F.concat(F.lit("h"), (F.col("doc_id") % 16).cast("string"), F.lit(".example.com")),
    )
    return dedup.ngram_jaccard_dup_pairs(
        with_host,
        threshold=0.3,
        max_shingle_df=_HOST_NGRAM_MAX_DF,
        block_col="host",
    )


# Host-graph fixture algebra: 50 hosts; every document contributes one
# directed link src = doc_id % 50 → dst = (7·doc_id + 3) % 50 (an affine
# map with gcd(7,50)=1, so the in-link structure is non-uniform per host
# but every host has out-links — no dangling mass by construction).
_PR_EDGES_SQL = """
e AS (
  SELECT DISTINCT CAST(doc_id % 50 AS BIGINT) AS src,
                  CAST((doc_id * 7 + 3) % 50 AS BIGINT) AS dst
  FROM documents
), pr_nodes AS (
  SELECT DISTINCT n FROM (SELECT src AS n FROM e UNION ALL SELECT dst FROM e)
), deg AS (
  SELECT src, count(*) AS od FROM e GROUP BY src
)"""


@register(
    "host_graph_pagerank",
    oracle=f"""
WITH RECURSIVE {_PR_EDGES_SQL},
it AS (
  SELECT 0 AS i,
         (SELECT list(struct_pack(n := n,
            r := CAST(1000000000 // (SELECT count(*) FROM pr_nodes) AS BIGINT)))
          FROM pr_nodes) AS st
  UNION ALL
  SELECT i + 1,
    (SELECT list(struct_pack(n := nd.n,
       r := CAST((3 * CAST(1000000000 AS BIGINT)) // (20 * (SELECT count(*) FROM pr_nodes))
                 + coalesce(inc.m, 0) AS BIGINT)))
     FROM pr_nodes nd
     LEFT JOIN (
       SELECT e.dst AS n, sum((17 * u.r) // (20 * deg.od)) AS m
       FROM unnest(st) AS t(u)
       JOIN e ON e.src = u.n
       JOIN deg ON deg.src = u.n
       GROUP BY e.dst
     ) inc ON inc.n = nd.n)
  FROM it WHERE i < 10
)
SELECT u.n AS node, CAST(u.r AS BIGINT) AS pr_q9
FROM (SELECT st FROM it WHERE i = 10), unnest(st) AS t(u)
""",
)
def host_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 web curation, host-graph PageRank (r6): link analysis over the
    50-host fixture graph — the site-authority signal crawl pipelines
    weight and filter by (Common Crawl ships host ranks for exactly
    this). Ten damped power-iteration rounds in EXACT INTEGER
    billionths (d = 17/20, per-edge contributions floored), so the
    recursive-CTE oracle replays every iteration bit-for-bit — no float
    summation-order hazard across ten compounding rounds. Spark shape:
    per round one edges⋈ranks equi-join + one hash agg on dst, rank
    vector node-sized, lineage truncated per round (the suffix-array
    discipline). See functions/graph.py + DIVERGENCES.md (floor-loss
    mass leak)."""
    from prom_etl_db_spark.functions import graph

    docs = _t(spark, sf_dir, "documents")
    edges = docs.select(
        (F.col("doc_id") % 50).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 50).alias("dst"),
    )
    return graph.pagerank_integer(edges, n_iter=10)


# robots.txt fixture algebra: 8 hosts (doc_id % 8). Even hosts publish a
# TestBot-specific group (prefix Disallow + a longer $-anchored Allow
# carve-out) plus a '*' group that MUST be ignored for TestBot (RFC 9309
# group selection: specific group wins, never both); odd hosts publish
# a shared otherbot/'*' multi-agent run (TestBot falls back to it),
# with a '_' in the pattern (LIKE-escape hazard), a mid-pattern '*'
# wildcard, an empty Disallow (matches nothing) and a junk line —
# EXCEPT hosts k%4=1 (k=1,5), which append an empty TestBot group
# ('User-agent: TestBot / Disallow:'): the RFC's allow-everything
# idiom — membership alone must suppress the '*' fallback even though
# every rule in the group is dropped (ADVICE r6 fix). URL paths cycle
# through six shapes hitting every rule class.
_ROBOTS_TXT_SQL = """CASE WHEN k % 2 = 0 THEN
      '# robots for h' || k || chr(10) ||
      'User-agent: TestBot' || chr(10) ||
      'Disallow: /private/' || chr(10) ||
      'Allow: /private/pub' || k || '$' || chr(10) ||
      'Crawl-delay: 5' || chr(10) || chr(10) ||
      'User-agent: OtherBot' || chr(10) ||
      'Disallow: /' || chr(10) || chr(10) ||
      'User-agent: *' || chr(10) ||
      'Disallow: /tmp/*' || chr(10) ||
      'Allow:'
    ELSE
      'User-agent: otherbot' || chr(10) ||
      'User-agent: *' || chr(10) ||
      'Disallow: /p_' || k || '/' || chr(10) ||
      'Allow: /p_' || k || '/ok' || chr(10) ||
      'Disallow: /q/*/sub' || chr(10) ||
      'Disallow:' || chr(10) ||
      'Not a directive junk' ||
      CASE WHEN k % 4 = 1 THEN
        chr(10) || chr(10) ||
        'User-agent: TestBot' || chr(10) ||
        'Disallow:'
      ELSE '' END
    END"""

_ROBOTS_URL_SQL = """CASE CAST(doc_id % 6 AS BIGINT)
      WHEN 0 THEN '/private/doc' || CAST(doc_id % 7 AS BIGINT)
      WHEN 1 THEN '/private/pub' || CAST(doc_id % 8 AS BIGINT)
      WHEN 2 THEN '/tmp/x' || CAST(doc_id % 7 AS BIGINT)
      WHEN 3 THEN '/p_' || CAST(doc_id % 8 AS BIGINT) || '/ok/page' || CAST(doc_id % 7 AS BIGINT)
      WHEN 4 THEN '/q/z' || CAST(doc_id % 7 AS BIGINT) || '/sub'
      ELSE '/open/' || CAST(doc_id % 7 AS BIGINT)
    END"""


def _robots_fixture(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(urls, robots) twins of the SQL fixture above, built in-query."""
    k = (F.col("doc_id") % 8).cast("string")
    m = (F.col("doc_id") % 7).cast("string")
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("h"), k, F.lit(".example.com")).alias("host"),
        F.when(F.col("doc_id") % 6 == 0, F.concat(F.lit("/private/doc"), m))
        .when(F.col("doc_id") % 6 == 1, F.concat(F.lit("/private/pub"), k))
        .when(F.col("doc_id") % 6 == 2, F.concat(F.lit("/tmp/x"), m))
        .when(
            F.col("doc_id") % 6 == 3,
            F.concat(F.lit("/p_"), k, F.lit("/ok/page"), m),
        )
        .when(F.col("doc_id") % 6 == 4, F.concat(F.lit("/q/z"), m, F.lit("/sub")))
        .otherwise(F.concat(F.lit("/open/"), m))
        .alias("url_path"),
    )
    hk = F.col("k").cast("string")
    even = F.concat(
        F.lit("# robots for h"), hk, F.lit("\n"),
        F.lit("User-agent: TestBot\nDisallow: /private/\nAllow: /private/pub"),
        hk, F.lit("$\nCrawl-delay: 5\n\nUser-agent: OtherBot\nDisallow: /\n\n"),
        F.lit("User-agent: *\nDisallow: /tmp/*\nAllow:"),
    )
    odd = F.concat(
        F.lit("User-agent: otherbot\nUser-agent: *\nDisallow: /p_"), hk,
        F.lit("/\nAllow: /p_"), hk,
        F.lit("/ok\nDisallow: /q/*/sub\nDisallow:\nNot a directive junk"),
        F.when(
            F.col("k") % 4 == 1,
            F.lit("\n\nUser-agent: TestBot\nDisallow:"),
        ).otherwise(F.lit("")),
    )
    rb = (
        docs.select((F.col("doc_id") % 8).alias("k")).distinct()
        .select(
            F.concat(F.lit("h"), hk, F.lit(".example.com")).alias("host"),
            F.when(F.col("k") % 2 == 0, even).otherwise(odd).alias("robots_txt"),
        )
    )
    return urls, rb


@register(
    "robots_gate",
    oracle=rf"""
WITH hosts AS (
  SELECT DISTINCT CAST(doc_id % 8 AS BIGINT) AS k FROM documents
), robots AS (
  SELECT 'h' || k || '.example.com' AS host, {_ROBOTS_TXT_SQL} AS txt
  FROM hosts
), rlines AS (
  SELECT host,
         unnest(range(1, len(string_split(txt, chr(10))) + 1)) AS pos,
         unnest(string_split(txt, chr(10))) AS line
  FROM robots
), fields AS (
  SELECT host, pos, field, value FROM (
    SELECT host, pos,
      lower(regexp_extract(line, '(?i)^\s*(user-agent|allow|disallow)\s*:\s*([^#]*?)\s*(?:#.*)?$', 1)) AS field,
      regexp_extract(line, '(?i)^\s*(user-agent|allow|disallow)\s*:\s*([^#]*?)\s*(?:#.*)?$', 2) AS value
    FROM rlines
  ) WHERE field <> ''
), starts AS (
  SELECT host, pos, field, value,
    CASE WHEN field = 'user-agent'
          AND coalesce(lag(field) OVER (PARTITION BY host ORDER BY pos), '') <> 'user-agent'
         THEN 1 ELSE 0 END AS is_start
  FROM fields
), grouped AS (
  SELECT host, pos, field, value,
    sum(is_start) OVER (PARTITION BY host ORDER BY pos) AS grp
  FROM starts
), agents AS (
  SELECT DISTINCT host, grp, lower(value) AS agent FROM grouped WHERE field = 'user-agent'
), rules0 AS (
  SELECT host, grp, field = 'allow' AS is_allow, value AS pattern, length(value) AS pattern_len
  FROM grouped WHERE field <> 'user-agent' AND value <> ''
), joined AS (
  SELECT a.host, a.agent, r.is_allow, r.pattern, r.pattern_len
  FROM agents a LEFT JOIN rules0 r ON a.host = r.host AND a.grp = r.grp
), mine_hosts AS (
  SELECT DISTINCT host FROM agents WHERE agent = 'testbot'
), selected AS (
  SELECT host, is_allow, pattern, pattern_len FROM joined
  WHERE agent = 'testbot' AND pattern IS NOT NULL
  UNION ALL
  SELECT host, is_allow, pattern, pattern_len FROM joined
  WHERE agent = '*' AND pattern IS NOT NULL
    AND host NOT IN (SELECT host FROM mine_hosts)
), rules AS (
  SELECT host, is_allow, pattern, pattern_len,
    CASE WHEN ends_with(star, '$') THEN substr(star, 1, length(star) - 1)
         ELSE star || '%' END AS lp
  FROM (
    SELECT *,
      replace(replace(replace(replace(pattern, '\', '\\'), '%', '\%'), '_', '\_'), '*', '%') AS star
    FROM selected
  )
), urls AS (
  SELECT doc_id, 'h' || CAST(doc_id % 8 AS BIGINT) || '.example.com' AS host,
         {_ROBOTS_URL_SQL} AS url_path
  FROM documents
), hits AS (
  SELECT u.host, u.url_path,
    max(struct_pack(l := r.pattern_len, a := r.is_allow, p := r.pattern)) AS win
  FROM urls u JOIN rules r ON u.host = r.host
  WHERE u.url_path LIKE r.lp ESCAPE '\'
  GROUP BY u.host, u.url_path
)
SELECT u.doc_id, u.host, u.url_path,
  coalesce(h.win.a, TRUE) AS allowed,
  coalesce(h.win.p, '') AS matched_pattern,
  CAST(coalesce(h.win.l, 0) AS BIGINT) AS matched_len
FROM urls u LEFT JOIN hits h ON u.host = h.host AND u.url_path = h.url_path
""",
)
def robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 web curation, robots.txt gate (r6): RFC 9309 access evaluation
    for agent 'TestBot' over the 8-host fixture — the admission check a
    crawl corpus runs BEFORE url_canonicalize/url_dedup may even see a
    page. Exercises group selection (specific beats '*', never both),
    multi-agent runs, longest-match with Allow-on-ties via one struct
    max, $-anchoring, mid-pattern '*', LIKE metacharacter escaping ('_'
    in patterns), empty Disallow, comments and junk lines. The oracle is
    a genuine second implementation: DuckDB replays the whole parse
    (line split + windowed group assignment + regexp), the LIKE
    translation and the struct-max verdict. Plan: pure Column end to end
    — posexplode + two window passes over per-host robots lines (robots
    files are small; state bounded per host), then one equi-join on host
    + one hash aggregation per (host, url); zero Python in the data
    path. See functions/robots.py."""
    docs = _t(spark, sf_dir, "documents")
    urls, rb = _robots_fixture(docs)
    out = robots.robots_allowed(urls, rb, agent="TestBot")
    return out.select(
        "doc_id", "host", "url_path", "allowed", "matched_pattern",
        F.col("matched_len").cast("long").alias("matched_len"),
    )


# MIME-sniff fixture algebra: 17 payload classes (doc_id % 17) — the
# image/audio/video/archive/document signatures, whitespace-skipped and
# mixed-case HTML tags, an XML prolog, a UTF-8 BOM, clean ASCII text and
# a NUL-poisoned text (binary-byte heuristic). Every payload carries a
# per-doc ASCII tail (hex of the doc_id string) so rows stay distinct
# without disturbing any signature. One hex-literal list renders BOTH
# engines' fixtures — the sniff itself is evaluated independently by
# java.util.regex (Spark, over hex(substring(bytes))) and RE2 (DuckDB).
_MIME_FIXTURE_HEX = [
    "89504E470D0A1A0A",                    # PNG
    "FFD8FFE000104A464946",                # JPEG/JFIF
    "474946383961",                        # GIF89a
    "424D",                                # BMP
    "524946462400000057415645666D7420",    # RIFF….WAVE
    "5249464624000000415649204C495354",    # RIFF….AVI␠
    "664C6143",                            # fLaC
    "4944330300",                          # ID3 (MP3)
    "1F8B08",                              # gzip
    "504B0304",                            # zip
    "255044462D312E3420",                  # %PDF-1.4␠
    "0A20203C21444F43545950452068746D6C3E3C686561643E",  # \n␠␠<!DOCTYPE html>
    "3C48744D6C3E3C626F64793E7061676520",  # <HtMl> (mixed case)
    "3C3F786D6C2076657273696F6E3D22312E30223F3E3C726F6F743E",  # <?xml
    "EFBBBF424F4D207465787420",            # UTF-8 BOM + text
    "48656C6C6F2C20706C61696E20746578742E20",  # plain ASCII
    "0062696E6172792120",                  # NUL + text → octet-stream
]

_MIME_HEX_SQL = "CASE CAST(doc_id % 17 AS INT) " + " ".join(
    f"WHEN {i} THEN '{h}'" for i, h in enumerate(_MIME_FIXTURE_HEX)
) + " END || hex(CAST(doc_id AS VARCHAR))"


@register(
    "mime_sniff_route",
    oracle=f"""
WITH p AS (
  SELECT doc_id, {_MIME_HEX_SQL} AS payload_hex FROM documents
)
SELECT doc_id,
  {mime.oracle_case_sql('payload_hex')} AS mime,
  CAST(length(payload_hex) // 2 AS BIGINT) AS n_bytes
FROM p
""",
)
def mime_sniff_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4/E5 web curation, MIME sniffing (r6): WHATWG content-type
    detection over raw bytes — the router a crawl pipeline needs in
    front of every decoder because Content-Type headers lie. 17 payload
    classes: byte signatures (PNG/JPEG/GIF/BMP/WAVE/AVI/FLAC/ID3/gzip/
    zip/PDF), whitespace-skipped + case-insensitive HTML tag sniff, XML
    prolog, UTF-8 BOM, and the §7.1 binary-byte text-vs-octet-stream
    heuristic. The Spark side round-trips hex → REAL binary → hex and
    runs one CASE of anchored rlikes (pure Column, whole-stage codegen,
    zero Python); the oracle renders the SAME pattern constants into a
    DuckDB CASE over RE2 — two regex engines, one decision chain (the
    html_extract cross-check pattern). See functions/mime.py."""
    docs = _t(spark, sf_dir, "documents")
    hexes = F.array(*[F.lit(h) for h in _MIME_FIXTURE_HEX])
    payload = F.unhex(
        F.concat(
            F.element_at(hexes, (F.col("doc_id") % 17 + 1).cast("int")),
            F.hex(F.col("doc_id").cast("string")),
        )
    )
    return docs.select(
        "doc_id",
        mime.sniff_mime(payload).alias("mime"),
        F.length(payload).cast("long").alias("n_bytes"),
    )


# WARC fixture algebra: per document one 3-record WARC file (warcinfo,
# request, response) built from closed forms of doc_id — k = doc_id % 8
# (host), m = doc_id % 7 (page), status = 200/301/404 by doc_id % 3. The
# response payload PLANTS a literal "WARC/1.0\r\n\r\n" line, so any
# parser that splits on delimiters instead of walking Content-Length
# returns the wrong record count and fails the hash.
_WARC_STATUS_SQL = "CAST(200 + (doc_id % 3) * CASE doc_id % 3 WHEN 1 THEN 101 WHEN 2 THEN 102 ELSE 0 END AS INT)"
_WARC_P0_SQL = "'software: sparketl/1.0' || chr(13) || chr(10) || 'fileno: ' || doc_id"
_WARC_URI_SQL = "'http://h' || CAST(doc_id % 8 AS BIGINT) || '.example.com/p/' || CAST(doc_id % 7 AS BIGINT)"
_WARC_P1_SQL = (
    "'GET /p/' || CAST(doc_id % 7 AS BIGINT) || ' HTTP/1.1' || chr(13) || chr(10) ||"
    " 'Host: h' || CAST(doc_id % 8 AS BIGINT) || '.example.com' || chr(13) || chr(10) || chr(13) || chr(10)"
)
_WARC_P2_SQL = (
    f"'HTTP/1.1 ' || {_WARC_STATUS_SQL} || ' OK' || chr(13) || chr(10) ||"
    " 'Content-Type: text/html' || chr(13) || chr(10) || chr(13) || chr(10) ||"
    " '<html><body>doc ' || doc_id || chr(13) || chr(10) ||"
    " 'WARC/1.0' || chr(13) || chr(10) || chr(13) || chr(10) || 'trap</body></html>'"
)


def _warc_fixture(docs: DataFrame) -> DataFrame:
    """(doc_id, warc binary): the 3-record file described above, all
    ASCII so char length == byte length on both engines."""
    ids = F.col("doc_id").cast("string")
    ks = (F.col("doc_id") % 8).cast("string")
    ms = (F.col("doc_id") % 7).cast("string")
    status = (
        F.when(F.col("doc_id") % 3 == 1, 301)
        .when(F.col("doc_id") % 3 == 2, 404)
        .otherwise(200)
        .cast("string")
    )
    uri = F.concat(F.lit("http://h"), ks, F.lit(".example.com/p/"), ms)
    p0 = F.concat(F.lit("software: sparketl/1.0\r\nfileno: "), ids)
    p1 = F.concat(
        F.lit("GET /p/"), ms, F.lit(" HTTP/1.1\r\nHost: h"), ks,
        F.lit(".example.com\r\n\r\n"),
    )
    p2 = F.concat(
        F.lit("HTTP/1.1 "), status,
        F.lit(" OK\r\nContent-Type: text/html\r\n\r\n<html><body>doc "), ids,
        F.lit("\r\nWARC/1.0\r\n\r\ntrap</body></html>"),
    )

    def rec(wtype: str, idx: str, payload, uri_col=None):
        parts = [F.lit(f"WARC/1.0\r\nWARC-Type: {wtype}\r\nWARC-Record-ID: <urn:uuid:")]
        parts += [ids, F.lit(f"-{idx}>\r\n")]
        if uri_col is not None:
            parts += [F.lit("WARC-Target-URI: "), uri_col, F.lit("\r\n")]
        parts += [
            F.lit("WARC-Date: 2024-01-30T00:00:00Z\r\nContent-Length: "),
            F.length(payload).cast("string"),
            F.lit("\r\n\r\n"),
            payload,
            F.lit("\r\n\r\n"),
        ]
        return F.concat(*parts)

    body = F.concat(
        rec("warcinfo", "0", p0),
        rec("request", "1", p1, uri),
        rec("response", "2", p2, uri),
    )
    return docs.select("doc_id", F.encode(body, "UTF-8").alias("warc"))


@register(
    "warc_record_parse",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
         {_WARC_URI_SQL} AS uri,
         {_WARC_P0_SQL} AS p0,
         {_WARC_P1_SQL} AS p1,
         {_WARC_P2_SQL} AS p2,
         {_WARC_STATUS_SQL} AS status
  FROM documents
)
SELECT doc_id, 0 AS rec_idx, 'warcinfo' AS warc_type,
       '<urn:uuid:' || doc_id || '-0>' AS record_id,
       CAST(NULL AS VARCHAR) AS target_uri,
       CAST(length(p0) AS BIGINT) AS content_length,
       md5(p0) AS payload_md5, CAST(NULL AS INT) AS http_status
FROM base
UNION ALL
SELECT doc_id, 1, 'request', '<urn:uuid:' || doc_id || '-1>', uri,
       CAST(length(p1) AS BIGINT), md5(p1), CAST(NULL AS INT)
FROM base
UNION ALL
SELECT doc_id, 2, 'response', '<urn:uuid:' || doc_id || '-2>', uri,
       CAST(length(p2) AS BIGINT), md5(p2), status
FROM base
""",
)
def warc_record_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4/E5 web curation, WARC parsing (r6): ISO 28500 record walk over
    Common Crawl's container format — the entry point of the whole crawl
    arc (WARC → MIME sniff → HTML extract → url dedup). The fixture
    builds a real 3-record file per document (warcinfo/request/response)
    whose response payload EMBEDS a "WARC/1.0" line: only a parser that
    honors Content-Length framing (functions/warc.py, mapInPandas one
    pass per file) yields 3 records per doc with matching payload md5s.
    The oracle recomputes every header field, block length, md5 and HTTP
    status as closed forms of doc_id (the BMP-roundtrip expected-value
    pattern — DuckDB cannot walk bytes). Scale: parallelism is per-file;
    .warc.gz member framing (gzip loop, unit-tested) is what permits
    intra-file splits in a production reader."""
    docs = _t(spark, sf_dir, "documents")
    out = warc.parse_warc_records(_warc_fixture(docs), id_col="doc_id")
    return out.select(
        "doc_id", "rec_idx", "warc_type", "record_id", "target_uri",
        "content_length", "payload_md5", "http_status",
    )


@register(
    "cdx_surt_keys",
    oracle=f"""
WITH g AS (
  SELECT DISTINCT CAST(doc_id // 3 AS BIGINT) AS pg FROM documents
), canon AS (
  SELECT pg, 'http://' || {_URL_HOST_SQL} || '/p/' || pg || '?a=1&b=2' AS url
  FROM g
), parts AS (
  SELECT pg, url,
    regexp_replace(lower(regexp_extract(url, '^[a-z]+://([^/?#:]+)', 1)), '^www\\.', '') AS host,
    coalesce(nullif(regexp_extract(url, '^[a-z]+://[^/?#]*(/[^?#]*)', 1), ''), '/') AS path,
    regexp_extract(url, '\\?([^#]*)', 1) AS query
  FROM canon
)
SELECT pg AS page, url AS canonical_url,
  array_to_string(list_reverse(string_split(host, '.')), ',') || ')' || path ||
    CASE WHEN query <> '' THEN '?' || query ELSE '' END AS surt
FROM parts
""",
)
def cdx_surt_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 web curation, SURT keys (r6): the web-archive CDX key
    transform over the canonicalized url_dedup fixture — scheme off,
    host lowercased, single leading www. folded, labels REVERSED and
    comma-joined, then ')' + path + query, so one registered domain
    (and all its subdomains) is one contiguous lexicographic range:
    the property that turns "every capture of example.com" into a
    range scan at 100 TB. The four host strata exercise www-drop,
    4-label reversal under a multi-label suffix, a cdn subdomain and a
    bare 2-label host. Oracle is a genuine second implementation:
    DuckDB re-derives host/path/query by regex and replays the
    reversal with its own list ops (the canonical form itself is the
    fixture's closed form — DuckDB has no URL normalizer). Plan: pure
    Column (parse_url/split/reverse), one hash agg for the page
    collapse, zero Python, zero extra shuffle."""
    docs = _t(spark, sf_dir, "documents")
    canon = urlnorm.canonical_urls(_url_variants(docs))
    pages = (
        canon.groupBy(F.floor(F.col("doc_id") / 3).cast("long").alias("page"))
        .agg(F.first("canonical_url").alias("canonical_url"))
    )
    return pages.select(
        "page",
        "canonical_url",
        surt.surt_key(F.col("canonical_url")).alias("surt"),
    )


@register(
    "host_graph_harmonic",
    oracle=f"""
WITH RECURSIVE {_PR_EDGES_SQL},
walk(root, node, dist) AS (
  SELECT n AS root, n AS node, 0 AS dist FROM pr_nodes
  UNION
  SELECT w.root, e.dst, w.dist + 1
  FROM walk w JOIN e ON e.src = w.node
  WHERE w.dist < 8
), sp AS (
  SELECT root, node, min(dist) AS d FROM walk GROUP BY root, node
)
SELECT n.n AS node,
  CAST(coalesce((SELECT sum(1000000 // d) FROM sp
                 WHERE sp.node = n.n AND sp.d > 0), 0) AS BIGINT) AS harmonic_q6
FROM pr_nodes n
""",
)
def host_graph_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 web curation, harmonic centrality (r6): the OTHER standard
    host-authority signal (Common Crawl publishes harmonic-centrality
    host ranks next to PageRank) over the same 50-host fixture graph.
    In-harmonic H(v) = Σ 1/d(u→v) truncated at radius 8, each term
    floored to integer MILLIONTHS, so the DuckDB recursive-CTE BFS
    (min-dist per pair, then the same integer division) replays the
    value bit-for-bit. Spark shape: multi-source BFS — per round one
    frontier⋈edges equi-join + one left_anti dedup against visited,
    lineage truncated per round (functions/graph.py). The exact
    all-pairs variant is for bounded node sets; the 100 TB path is
    HyperBall approximation (DIVERGENCES.md)."""
    from prom_etl_db_spark.functions import graph

    docs = _t(spark, sf_dir, "documents")
    edges = docs.select(
        (F.col("doc_id") % 50).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 50).alias("dst"),
    )
    return graph.harmonic_centrality_integer(edges, radius=8)


@register(
    "crawl_pipeline_v1",
    oracle=f"""
WITH adm AS (
  SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS k, CAST(doc_id % 7 AS BIGINT) AS m,
         {_WARC_P2_SQL} AS p2
  FROM documents
  WHERE doc_id % 3 = 0 AND doc_id % 7 NOT IN (3, 5)
)
SELECT doc_id,
  'http://h' || k || '.example.com/p/' || m AS canonical_url,
  'com,example,h' || k || ')/p/' || m AS surt,
  md5(substring(p2, position(chr(13) || chr(10) || chr(13) || chr(10) IN p2) + 4)) AS body_md5
FROM adm
""",
)
def crawl_pipeline_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4/E5 web curation FLAGSHIP (r6): the full crawl-admission arc
    composed end to end over real parsed bytes — WARC record walk
    (Content-Length framing) → keep HTTP 200 responses → extract the
    HTTP body (first CRLFCRLF; the body's own embedded CRLFCRLF trap
    must not cut it) → WHATWG MIME sniff keeps text/html → RFC 9309
    robots gate for TestBot ('*' group: '/p/3$' anchored + '/p/5'
    prefix — rejects page 3 exactly and page 5ff by prefix) → RFC 3986
    canonicalization → SURT key. Admission algebra the oracle replays
    closed-form: status 200 ⇔ doc_id%3=0; robots ⇔ doc_id%7 ∉ {{3,5}};
    body md5 recomputed from the response payload's closed form. Each
    stage is individually oracle-checked by its own registry query
    (warc_record_parse, mime_sniff_route, robots_gate, url_dedup,
    cdx_surt_keys); this query proves the COMPOSITION. Plan: the WARC
    mapInPandas appears twice (robots_allowed's verdict join-back scans
    urls two ways — a production run would persist parsed records
    between stages); everything else pure Column + one Arrow-batched
    canonicalize; joins host-keyed (8 keys, broadcast-class)."""
    docs = _t(spark, sf_dir, "documents")
    recs = warc.parse_warc_records(
        _warc_fixture(docs), id_col="doc_id", keep_payload=True
    )
    resp = recs.where(
        (F.col("warc_type") == "response") & (F.col("http_status") == 200)
    ).select(
        "doc_id",
        "target_uri",
        F.col("payload").cast("string").alias("http_msg"),
    )
    body = F.expr("substring(http_msg, locate('\\r\\n\\r\\n', http_msg) + 4)")
    html = resp.select(
        "doc_id", "target_uri", body.alias("body")
    ).where(mime.sniff_mime(F.encode(F.col("body"), "UTF-8")) == "text/html")
    urls = html.select(
        "doc_id",
        "target_uri",
        "body",
        F.parse_url("target_uri", F.lit("HOST")).alias("host"),
        F.parse_url("target_uri", F.lit("PATH")).alias("url_path"),
    )
    rb = (
        docs.select((F.col("doc_id") % 8).cast("string").alias("k")).distinct()
        .select(
            F.concat(F.lit("h"), "k", F.lit(".example.com")).alias("host"),
            F.lit("User-agent: *\nDisallow: /p/3$\nDisallow: /p/5\n").alias(
                "robots_txt"
            ),
        )
    )
    # robots_allowed returns the urls columns + verdict, so body rides
    # through and canonicalization is an in-place column — no re-join,
    # the WARC parse executes ONCE in the plan
    admitted = robots.robots_allowed(urls, rb, agent="TestBot").where("allowed")
    return admitted.select(
        "doc_id",
        urlnorm.canonical_col(F.col("target_uri")).alias("canonical_url"),
        "body",
    ).select(
        "doc_id",
        "canonical_url",
        surt.surt_key(F.col("canonical_url")).alias("surt"),
        F.md5(F.encode(F.col("body"), "UTF-8")).alias("body_md5"),
    )


# Link-harvest fixture algebra: per doc one page at base
# http://h<k>.example.com/dir/sub/page<m>?z=1 (k = doc_id % 8,
# m = doc_id % 7) carrying seven <a href> links, one per RFC 3986 §5.2.2
# resolution branch: absolute, protocol-relative (//authority),
# root-relative, ../ relative, query-only, fragment-only, and a
# single-quoted plain relative.
_LINKS_SQL = """
links(href_tpl, res_tpl) AS (VALUES
  ('http://ext{m}.example.org/abs',  'http://ext{m}.example.org/abs'),
  ('//cdn{k}.example.net/lib',       'http://cdn{k}.example.net/lib'),
  ('/r/{m}',                         'http://h{k}.example.com/r/{m}'),
  ('../up/{m}',                      'http://h{k}.example.com/dir/up/{m}'),
  ('?q={m}',                         'http://h{k}.example.com/dir/sub/page{m}?q={m}'),
  ('#sec{m}',                        'http://h{k}.example.com/dir/sub/page{m}?z=1#sec{m}'),
  ('img/{m}',                        'http://h{k}.example.com/dir/sub/img/{m}')
)"""


@register(
    "html_link_graph",
    oracle=f"""
WITH {_LINKS_SQL}
SELECT d.doc_id,
  replace(replace(l.href_tpl, '{{k}}', CAST(d.doc_id % 8 AS VARCHAR)),
          '{{m}}', CAST(d.doc_id % 7 AS VARCHAR)) AS href,
  replace(replace(l.res_tpl, '{{k}}', CAST(d.doc_id % 8 AS VARCHAR)),
          '{{m}}', CAST(d.doc_id % 7 AS VARCHAR)) AS resolved
FROM documents d CROSS JOIN links l
""",
)
def html_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 web curation, link harvesting (r6): <a href> extraction +
    RFC 3986 §5.2 reference resolution — the step that turns pages into
    link-graph EDGES (the input host_graph_pagerank/harmonic rank), and
    the step naive pipelines get wrong for every relative link. Seven
    links per page cover every §5.2.2 branch (absolute, //authority,
    /rooted, ../merge, query-only, fragment-only, plain relative; both
    quote styles). The resolver is the spec's transform-references
    algorithm verbatim, pinned separately by the RFC's own §5.4
    normal+abnormal vector tables; the oracle states each branch's
    closed form. Plan: pure-Column regexp_extract_all harvest → explode
    → one Arrow-batched resolve; no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    k = (F.col("doc_id") % 8).cast("string")
    m = (F.col("doc_id") % 7).cast("string")
    base = F.concat(
        F.lit("http://h"), k, F.lit(".example.com/dir/sub/page"), m, F.lit("?z=1")
    )
    html = F.concat(
        F.lit('<html><body><a href="http://ext'), m, F.lit('.example.org/abs">x</a>'),
        F.lit('<a class=l href="//cdn'), k, F.lit('.example.net/lib">x</a>'),
        F.lit('<a href="/r/'), m, F.lit('">x</a>'),
        F.lit('<a href="../up/'), m, F.lit('">x</a>'),
        F.lit('<a href="?q='), m, F.lit('">x</a>'),
        F.lit('<a href="#sec'), m, F.lit('">x</a>'),
        F.lit("<a href='img/"), m, F.lit("'>x</a></body></html>"),
    )
    pages = docs.select("doc_id", base.alias("base_url"), html.alias("html"))
    return urlnorm.extract_links(pages).select("doc_id", "href", "resolved")


# Sitemap fixture algebra: per host (doc_id % 8) one urlset with three
# <url> entries — a fully-populated one (entity-escaped &amp; in the
# loc, padded whitespace, mixed-case changefreq), a REORDERED one
# (priority before loc, no lastmod), and a minimal one (defaults:
# priority 0.5, NULL lastmod/changefreq).
_SITEMAP_XML_SQL = """'<?xml version="1.0" encoding="UTF-8"?>' ||
 '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">' ||
 '<url><loc> http://h' || k || '.example.com/p/0?a=1&amp;b=2 </loc>' ||
 '<lastmod>2024-01-15</lastmod><changefreq>Daily</changefreq>' ||
 '<priority>0.8</priority></url>' ||
 '<url><priority>0.3</priority><loc>http://h' || k || '.example.com/p/1</loc></url>' ||
 '<url><loc>http://h' || k || '.example.com/p/2</loc></url>' ||
 '</urlset>'"""


@register(
    "sitemap_parse",
    oracle=f"""
WITH hosts AS (
  SELECT DISTINCT CAST(doc_id % 8 AS BIGINT) AS k FROM documents
), sm AS (
  SELECT 'h' || k || '.example.com' AS host, {_SITEMAP_XML_SQL} AS xml FROM hosts
), blocks AS (
  SELECT host, unnest(regexp_extract_all(xml, '{sitemap._URL_BLOCK_RE}', 1)) AS blk
  FROM sm
)
SELECT host,
  replace(replace(replace(replace(replace(
    regexp_extract(blk, '{sitemap._LOC_RE}', 1),
    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''), '&amp;', '&') AS loc,
  nullif(regexp_extract(blk, '(?is)<lastmod\\s*>\\s*(.*?)\\s*</lastmod\\s*>', 1), '') AS lastmod,
  nullif(lower(regexp_extract(blk, '(?is)<changefreq\\s*>\\s*(.*?)\\s*</changefreq\\s*>', 1)), '') AS changefreq,
  coalesce(try_cast(nullif(regexp_extract(blk, '(?is)<priority\\s*>\\s*(.*?)\\s*</priority\\s*>', 1), '') AS DOUBLE), 0.5) AS priority
FROM blocks
""",
)
def sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 web curation, sitemap parsing (r6): the sitemaps.org
    discovery input (robots.txt's `Sitemap:` lines point here) — one
    row per <url> entry with loc/lastmod/changefreq/priority,
    element-order-independent, five-entity unescape ordered so &amp;lt;
    cannot double-decode, spec default priority 0.5. Pure Column end to
    end (regexp_extract_all → explode → per-block extracts); the oracle
    replays the same regexes and replace chain under RE2 — two regex
    engines, one grammar (the mime_sniff_route pattern). See
    functions/sitemap.py."""
    docs = _t(spark, sf_dir, "documents")
    hk = F.col("k").cast("string")
    xml = F.concat(
        F.lit('<?xml version="1.0" encoding="UTF-8"?>'
              '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
              "<url><loc> http://h"), hk,
        F.lit(".example.com/p/0?a=1&amp;b=2 </loc>"
              "<lastmod>2024-01-15</lastmod><changefreq>Daily</changefreq>"
              "<priority>0.8</priority></url>"
              "<url><priority>0.3</priority><loc>http://h"), hk,
        F.lit(".example.com/p/1</loc></url><url><loc>http://h"), hk,
        F.lit(".example.com/p/2</loc></url></urlset>"),
    )
    sm = (
        docs.select((F.col("doc_id") % 8).alias("k")).distinct()
        .select(
            F.concat(F.lit("h"), hk, F.lit(".example.com")).alias("host"),
            xml.alias("xml"),
        )
    )
    return sitemap.sitemap_entries(sm)


@register(
    "crawl_frontier_schedule",
    oracle="""
WITH u AS (
  SELECT DISTINCT 'h' || CAST(doc_id % 16 AS BIGINT) || '.example.com' AS host,
         '/p/' || CAST(doc_id % 97 AS BIGINT) AS url,
         CAST(doc_id % 10 AS DOUBLE) / 10 AS priority
  FROM documents
)
SELECT host, url, priority,
  CAST(row_number() OVER (PARTITION BY host ORDER BY priority DESC, url ASC) AS INT) AS slot
FROM u
""",
)
def crawl_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 web curation, frontier scheduling (r6): the politeness
    schedule — within each host, fetch order = (priority DESC, url ASC)
    and ``slot`` = that rank, so slot s across all hosts is a
    concurrently-fetchable wave touching no host twice. One window per
    host; hosts partition the work (a pathological host is bounded by
    its own frontier, capped in production). Oracle replays the window
    verbatim."""
    docs = _t(spark, sf_dir, "documents")
    urls = docs.select(
        F.concat(
            F.lit("h"), (F.col("doc_id") % 16).cast("string"), F.lit(".example.com")
        ).alias("host"),
        F.concat(F.lit("/p/"), (F.col("doc_id") % 97).cast("string")).alias("url"),
        ((F.col("doc_id") % 10) / 10).cast("double").alias("priority"),
    ).distinct()
    return sitemap.frontier_schedule(urls)


@register(
    "wet_generate_roundtrip",
    oracle=f"""
WITH page AS (
  SELECT doc_id,
         '<html><body>doc ' || doc_id || chr(13) || chr(10) || 'WARC/1.0'
           || chr(13) || chr(10) || chr(13) || chr(10)
           || 'trap</body></html>' AS html,
         {_WARC_URI_SQL} AS uri
  FROM documents
), cleaned AS (
  SELECT doc_id, uri, {text.html_extract_oracle_exprs()} AS clean_text
  FROM page
)
SELECT doc_id, 'conversion' AS warc_type,
       '<urn:uuid:' || doc_id || '-wet>' AS record_id,
       uri AS target_uri,
       CAST(octet_length(encode(clean_text)) AS BIGINT) AS content_length,
       md5(clean_text) AS payload_md5
FROM cleaned
""",
)
def wet_generate_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4/E5 web curation, WET generation (r6): write Common Crawl's
    derived text format with the REAL writer (pure-Column binary
    concat, byte-correct Content-Length) and read it back with the
    REAL parser — the page text deliberately still contains the
    "WARC/1.0\\r\\n\\r\\n" trap line, so the roundtrip only matches if
    the writer frames by bytes and the reader walks Content-Length.
    Text comes from the full html_extract chain over the crawl
    fixture's response body; the oracle replays that chain (RE2) and
    states the record fields closed-form. Plan: pure Column writer →
    one mapInPandas reader; zero shuffle."""
    from prom_etl_db_spark.functions import text as _text

    docs = _t(spark, sf_dir, "documents")
    ids = F.col("doc_id").cast("string")
    body_html = F.concat(
        F.lit("<html><body>doc "), ids,
        F.lit("\r\nWARC/1.0\r\n\r\ntrap</body></html>"),
    )
    uri = F.concat(
        F.lit("http://h"), (F.col("doc_id") % 8).cast("string"),
        F.lit(".example.com/p/"), (F.col("doc_id") % 7).cast("string"),
    )
    cleaned = _text.html_extract_text(
        docs.select("doc_id", body_html.alias("html"))
    ).join(docs.select("doc_id", uri.alias("target_uri")), "doc_id")
    wet = warc.wet_records(cleaned)
    parsed = warc.parse_warc_records(wet, payload_col="wet", id_col="doc_id")
    return parsed.select(
        "doc_id", "warc_type", "record_id", "target_uri",
        "content_length", "payload_md5",
    )


@register(
    "wat_link_metadata",
    oracle=f"""
WITH {_LINKS_SQL},
resolved AS (
  SELECT d.doc_id,
    'http://h' || CAST(d.doc_id % 8 AS VARCHAR) || '.example.com/dir/sub/page'
      || CAST(d.doc_id % 7 AS VARCHAR) || '?z=1' AS base,
    list_sort(list(replace(replace(l.res_tpl, '{{k}}', CAST(d.doc_id % 8 AS VARCHAR)),
                           '{{m}}', CAST(d.doc_id % 7 AS VARCHAR)))) AS urls
  FROM documents d CROSS JOIN links l
  GROUP BY 1, 2
), js AS (
  SELECT doc_id, base,
    '{{"WARC-Target-URI":"' || base || '","Links":[' ||
    array_to_string(list_transform(urls, x -> '{{"url":"' || x || '"}}'), ',') ||
    ']}}' AS wat_json
  FROM resolved
)
SELECT doc_id, 'metadata' AS warc_type, base AS target_uri,
       CAST(octet_length(encode(wat_json)) AS BIGINT) AS content_length,
       md5(wat_json) AS payload_md5
FROM js
""",
)
def wat_link_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4/E5 web curation, WAT generation (r6): the metadata member of
    Common Crawl's WARC/WET/WAT triple — per page one application/json
    ``metadata`` record whose Links array is the harvested+RESOLVED
    outlink list (the exact input Common Crawl's web graph is built
    from). Links ride through extract_links (RFC 3986 resolution),
    sort for determinism, serialize with to_json, frame with the real
    byte-exact writer and re-parse with the real reader. The oracle
    rebuilds the identical JSON string (to_json emits struct fields in
    declaration order, no whitespace) and states length + md5
    closed-form. Plan: pure-Column harvest + one Arrow resolve + one
    hash agg (collect per page) + writer/reader; link arrays are
    page-bounded."""
    docs = _t(spark, sf_dir, "documents")
    k = (F.col("doc_id") % 8).cast("string")
    m = (F.col("doc_id") % 7).cast("string")
    base = F.concat(
        F.lit("http://h"), k, F.lit(".example.com/dir/sub/page"), m, F.lit("?z=1")
    )
    html = F.concat(
        F.lit('<html><body><a href="http://ext'), m, F.lit('.example.org/abs">x</a>'),
        F.lit('<a class=l href="//cdn'), k, F.lit('.example.net/lib">x</a>'),
        F.lit('<a href="/r/'), m, F.lit('">x</a>'),
        F.lit('<a href="../up/'), m, F.lit('">x</a>'),
        F.lit('<a href="?q='), m, F.lit('">x</a>'),
        F.lit('<a href="#sec'), m, F.lit('">x</a>'),
        F.lit("<a href='img/"), m, F.lit("'>x</a></body></html>"),
    )
    pages = docs.select("doc_id", base.alias("base_url"), html.alias("html"))
    links = urlnorm.extract_links(pages)
    per_page = links.groupBy("doc_id", "base_url").agg(
        F.sort_array(F.collect_list("resolved")).alias("urls")
    )
    js = per_page.select(
        "doc_id",
        F.col("base_url").alias("target_uri"),
        F.to_json(
            F.struct(
                F.col("base_url").alias("WARC-Target-URI"),
                F.transform(
                    F.col("urls"), lambda u: F.struct(u.alias("url"))
                ).alias("Links"),
            )
        ).alias("wat_json"),
    )
    parsed = warc.parse_warc_records(
        warc.wat_records(js), payload_col="wat", id_col="doc_id"
    )
    return parsed.select(
        "doc_id", "warc_type", "target_uri", "content_length", "payload_md5"
    )


@register(
    "robots_sitemap_directives",
    oracle="""
WITH hosts AS (
  SELECT DISTINCT CAST(doc_id % 8 AS BIGINT) AS k FROM documents
), rb AS (
  SELECT 'h' || k || '.example.com' AS host,
    'User-agent: *' || chr(10) || 'Disallow: /tmp/' || chr(10) ||
    'SITEMAP: https://h' || k || '.example.com/sitemap.xml  # primary' || chr(10) ||
    ' sitemap : https://h' || k || '.example.com/news-' || k || '.xml' || chr(10) ||
    'sitemapx: not-a-directive' AS txt
  FROM hosts
), lines AS (
  SELECT host, unnest(string_split(txt, chr(10))) AS line FROM rb
)
SELECT host,
  regexp_extract(line, '(?i)^\\s*sitemap\\s*:\\s*([^#\\s]+)\\s*(?:#.*)?$', 1) AS sitemap_url
FROM lines
WHERE regexp_extract(line, '(?i)^\\s*sitemap\\s*:\\s*([^#\\s]+)\\s*(?:#.*)?$', 1) <> ''
""",
)
def robots_sitemap_directives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 web curation (r6): ``Sitemap:`` extension lines of robots.txt
    (RFC 9309 §2.2.4 — group-independent, case-insensitive, comments
    stripped) — the hand-off that connects the robots gate to sitemap
    discovery. Two directives per host (one uppercase with a trailing
    comment, one space-padded lowercase) plus a non-directive decoy;
    the oracle replays the same regex under RE2. Pure Column, zero
    shuffle."""
    docs = _t(spark, sf_dir, "documents")
    hk = F.col("k").cast("string")
    txt = F.concat(
        F.lit("User-agent: *\nDisallow: /tmp/\nSITEMAP: https://h"), hk,
        F.lit(".example.com/sitemap.xml  # primary\n sitemap : https://h"), hk,
        F.lit(".example.com/news-"), hk,
        F.lit(".xml\nsitemapx: not-a-directive"),
    )
    rb = (
        docs.select((F.col("doc_id") % 8).alias("k")).distinct()
        .select(
            F.concat(F.lit("h"), hk, F.lit(".example.com")).alias("host"),
            txt.alias("robots_txt"),
        )
    )
    return robots.sitemap_directives(rb)


@register(
    "crawl_paced_schedule",
    oracle="""
WITH u AS (
  SELECT DISTINCT 'h' || CAST(doc_id % 8 AS BIGINT) || '.example.com' AS host,
         CAST(doc_id % 8 AS BIGINT) AS k,
         '/p/' || CAST(doc_id % 97 AS BIGINT) AS url,
         CAST(doc_id % 10 AS DOUBLE) / 10 AS priority
  FROM documents
), sched AS (
  SELECT host, k, url, priority,
    CAST(row_number() OVER (PARTITION BY host ORDER BY priority DESC, url ASC) AS INT) AS slot
  FROM u
)
SELECT host, url, priority, slot,
  (slot - 1) * (CASE WHEN k % 2 = 0 THEN CAST(k % 4 + 1 AS DOUBLE) ELSE 2.5 END) AS fetch_at_s
FROM sched
""",
)
def crawl_paced_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 web curation (r6): Crawl-delay-paced frontier — robots.txt
    Crawl-delay (a de-facto extension honored group-wise: the specific
    agent group's delay beats '*', minimum wins among duplicates)
    turns the politeness slot schedule into actual fetch TIMES:
    fetch_at_s = (slot−1) × host delay. Even hosts publish a testbot
    delay (k%4+1 s) that must SHADOW their '*' delay of 9 s; odd hosts
    only '*' 2.5 s. Exact binary arithmetic (2.5 and integers), no
    rounding needed. Composes robots.agent_crawl_delay +
    sitemap.frontier_schedule + sitemap.paced_schedule; oracle replays
    the window and the delay algebra closed-form."""
    docs = _t(spark, sf_dir, "documents")
    hk = F.col("k").cast("string")
    rb = (
        docs.select((F.col("doc_id") % 8).alias("k")).distinct()
        .select(
            F.concat(F.lit("h"), hk, F.lit(".example.com")).alias("host"),
            F.when(
                F.col("k") % 2 == 0,
                F.concat(
                    F.lit("User-agent: testbot\nCrawl-delay: "),
                    (F.col("k") % 4 + 1).cast("string"),
                    F.lit("\nUser-agent: *\nCrawl-delay: 9\n"),
                ),
            ).otherwise(F.lit("User-agent: *\nCrawl-delay: 2.5\n")).alias("robots_txt"),
        )
    )
    delays = robots.agent_crawl_delay(rb, agent="TestBot")
    urls = docs.select(
        F.concat(
            F.lit("h"), (F.col("doc_id") % 8).cast("string"), F.lit(".example.com")
        ).alias("host"),
        F.concat(F.lit("/p/"), (F.col("doc_id") % 97).cast("string")).alias("url"),
        ((F.col("doc_id") % 10) / 10).cast("double").alias("priority"),
    ).distinct()
    sched = sitemap.frontier_schedule(urls)
    return sitemap.paced_schedule(sched, delays)


# MP4/WebM container-sniff fixture: 8 payload classes (doc_id % 8) with
# CLOSED-FORM outcomes — valid mp4 by major brand, mp4 by compatible
# brand, an ftyp box with no mp4 brand, a box size that is not a
# multiple of 4 (the spec's alignment refusal), a WebM EBML DocType, a
# matroska decoy, a PNG (column-sniff pass-through) and plain text.
# Every payload carries the doc_id's ASCII tail beyond the sniffed
# region, so rows stay distinct without disturbing any signature.
_CONTAINER_FIXTURE_HEX = [
    "00000014667479706D703432000000006D703432",  # mp4: major brand
    "000000186674797069736F6D00000200617663316D703431",  # mp4: compat brand
    "0000001466747970717420200000000071742020",  # ftyp, no mp4 brand
    "0000000D667479706D70343200",                # box size % 4 != 0
    "1A45DFA34282847765626D",                    # webm DocType
    "1A45DFA34282886D6174726F736B61",            # matroska decoy
    "89504E470D0A1A0A",                          # PNG (column sniff)
    "48656C6C6F20636F6E7461696E6572207465787420",  # plain text
]

_CONTAINER_MIME = [
    "video/mp4", "video/mp4", "application/octet-stream",
    "application/octet-stream", "video/webm", "application/octet-stream",
    "image/png", "text/plain",
]

_CONTAINER_HEX_SQL = "CASE CAST(doc_id % 8 AS INT) " + " ".join(
    f"WHEN {i} THEN '{h}'" for i, h in enumerate(_CONTAINER_FIXTURE_HEX)
) + " END || hex(CAST(doc_id AS VARCHAR))"

_CONTAINER_MIME_SQL = "CASE CAST(doc_id % 8 AS INT) " + " ".join(
    f"WHEN {i} THEN '{m}'" for i, m in enumerate(_CONTAINER_MIME)
) + " END"


@register(
    "mime_container_route",
    oracle=f"""
SELECT doc_id,
  {_CONTAINER_MIME_SQL} AS mime,
  CAST(length({_CONTAINER_HEX_SQL}) // 2 AS BIGINT) AS n_bytes
FROM documents
""",
)
def mime_container_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4/E5 web curation (r7): MP4 box walk + WebM EBML parse — the
    WHATWG container signatures the round-6 pure-Column sniff
    documented as out of regex reach (length arithmetic). Composition:
    the Column CASE routes first (PNG/text never touch Python), then
    ``mime.refine_container_mime`` walks ONLY the octet-stream residue
    in one mapInPandas pass (ftyp box-size/alignment checks, major +
    compatible brand scan; EBML vint-sized DocType compare). The
    fixture's 8 classes have closed-form outcomes the oracle states
    directly (the warc_record_parse expected-value pattern — DuckDB
    cannot walk boxes either); the walk itself is unit-gated byte by
    byte in tests/test_mime.py. Closes the MP4/WebM DIVERGENCES row."""
    docs = _t(spark, sf_dir, "documents")
    hexes = F.array(*[F.lit(h) for h in _CONTAINER_FIXTURE_HEX])
    payload = F.unhex(
        F.concat(
            F.element_at(hexes, (F.col("doc_id") % 8 + 1).cast("int")),
            F.hex(F.col("doc_id").cast("string")),
        )
    )
    sniffed = docs.select(
        "doc_id",
        mime.sniff_mime(payload).alias("mime"),
        payload.alias("payload"),
    )
    refined = mime.refine_container_mime(sniffed)
    return refined.select(
        "doc_id", "mime", F.octet_length("payload").cast("long").alias("n_bytes")
    )


@register(
    "sitemap_parse_xml",
    oracle="""
WITH hosts AS (
  SELECT DISTINCT CAST(doc_id % 8 AS BIGINT) AS k FROM documents
)
SELECT 'h' || k || '.example.com' AS host,
       'http://h' || k || '.example.com/p?a=1&b=' || k AS loc,
       CAST(NULL AS VARCHAR) AS lastmod,
       CAST(NULL AS VARCHAR) AS changefreq,
       CAST(0.5 AS DOUBLE) AS priority
FROM hosts
UNION ALL
SELECT 'h' || k || '.example.com',
       'http://h' || k || '.example.com/café-' || k,
       '2024-02-0' || (k % 9 + 1), 'daily', CAST(0.9 AS DOUBLE)
FROM hosts
UNION ALL
SELECT 'h' || k || '.example.com',
       'http://h' || k || '.example.com/plain',
       NULL, NULL, CAST(0.5 AS DOUBLE)
FROM hosts
""",
)
def sitemap_parse_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 web curation (r7): the XML-PARSER sitemap tail — a real
    ElementTree parse for the inputs the r6 regex subset documents as
    out of reach: a CDATA-wrapped <loc> (raw '&' inside), a numeric
    character reference (&#233; → é), and the sitemaps.org namespace
    prefix on every element. Per host the fixture carries those three
    <url> entries; the oracle states the decoded closed forms (DuckDB
    has no XML parser — the expected-value class). The lastmod on the
    entity row is k-derived so rows differ per host. Routing contract
    (regex fast path ≡ XML tail on plain inputs) is unit-gated in
    tests/test_sitemap.py. mapInPandas over (host, xml), zero
    shuffle."""
    docs = _t(spark, sf_dir, "documents")
    hk = F.col("k").cast("string")
    xml = F.concat(
        F.lit('<ns:urlset xmlns:ns="http://www.sitemaps.org/schemas/sitemap/0.9">'
              "<ns:url><ns:loc><![CDATA[http://h"),
        hk,
        F.lit(".example.com/p?a=1&b="), hk,
        F.lit("]]></ns:loc></ns:url>"
              "<ns:url><ns:loc>http://h"),
        hk,
        F.lit(".example.com/caf&#233;-"), hk,
        F.lit("</ns:loc><ns:priority>0.9</ns:priority>"
              "<ns:changefreq>DAILY</ns:changefreq>"
              "<ns:lastmod>2024-02-0"),
        (F.col("k") % 9 + 1).cast("string"),
        F.lit("</ns:lastmod></ns:url>"
              "<ns:url><ns:loc>http://h"),
        hk,
        F.lit(".example.com/plain</ns:loc></ns:url>"
              "</ns:urlset>"),
    )
    sm = (
        docs.select((F.col("doc_id") % 8).alias("k")).distinct()
        .select(
            F.concat(F.lit("h"), hk, F.lit(".example.com")).alias("host"),
            xml.alias("xml"),
        )
    )
    return sitemap.sitemap_entries_xml(sm)


@register(
    "warc_zstd_parse",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
         {_WARC_URI_SQL} AS uri,
         {_WARC_P0_SQL} AS p0,
         {_WARC_P1_SQL} AS p1,
         {_WARC_P2_SQL} AS p2,
         {_WARC_STATUS_SQL} AS status
  FROM documents
)
SELECT doc_id, 0 AS rec_idx, 'warcinfo' AS warc_type,
       '<urn:uuid:' || doc_id || '-0>' AS record_id,
       CAST(NULL AS VARCHAR) AS target_uri,
       CAST(length(p0) AS BIGINT) AS content_length,
       md5(p0) AS payload_md5, CAST(NULL AS INT) AS http_status
FROM base
UNION ALL
SELECT doc_id, 1, 'request', '<urn:uuid:' || doc_id || '-1>', uri,
       CAST(length(p1) AS BIGINT), md5(p1), CAST(NULL AS INT)
FROM base
UNION ALL
SELECT doc_id, 2, 'response', '<urn:uuid:' || doc_id || '-2>', uri,
       CAST(length(p2) AS BIGINT), md5(p2), status
FROM base
""",
)
def warc_zstd_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4/E5 web curation (r7): ``.warc.zst`` — Common Crawl's actual
    zstd-framed WARC container — parsed end to end: each fixture file's
    WARC bytes are compressed with libzstd (pyarrow), decompressed by
    ``compression.zstd_decompress`` (the streaming libzstd decoder for
    outside bytes), then run through the ISO 28500 record parser — the
    composition of two independently-gated operators (zstd decode,
    WARC record walk) sharing one oracle with ``warc_record_parse``
    (same closed-form record expectations; the compression layer must
    be bit-transparent or every md5 breaks). Production .warc.zst
    carries an optional skippable-frame dictionary — skippable frames
    pass through; dictionary frames are refused by libzstd
    (DIVERGENCES.md). Plan: one mapInPandas decompress + one
    mapInPandas record walk, zero shuffle, per-file parallel."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from prom_etl_db_spark.functions.compression import zstd_decompress

    docs = _t(spark, sf_dir, "documents")
    files = _warc_fixture(docs)

    def compress(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyarrow import Codec

        codec = Codec("zstd", compression_level=3)
        for pdf in batches:
            pdf["warc"] = [bytes(codec.compress(bytes(b))) for b in pdf["warc"]]
            yield pdf

    def decompress(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf["warc"] = [zstd_decompress(bytes(b)) for b in pdf["warc"]]
            yield pdf

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("warc", T.BinaryType())]
    )
    zst = files.mapInPandas(compress, schema)  # fixture: the .warc.zst on disk
    raw = zst.mapInPandas(decompress, schema)  # production path under test
    out = warc.parse_warc_records(raw, id_col="doc_id")
    return out.select(
        "doc_id", "rec_idx", "warc_type", "record_id", "target_uri",
        "content_length", "payload_md5", "http_status",
    )


@register(
    "host_graph_hyperball",
    oracle=f"""
WITH RECURSIVE {_PR_EDGES_SQL},
walk(root, node, dist) AS (
  SELECT n AS root, n AS node, 0 AS dist FROM pr_nodes
  UNION
  SELECT w.root, e.dst, w.dist + 1
  FROM walk w JOIN e ON e.src = w.node
  WHERE w.dist < 8
), sp AS (
  SELECT root, node, min(dist) AS d FROM walk GROUP BY root, node
), radii AS (
  SELECT unnest(range(0, 9)) AS radius
), members AS (
  SELECT sp.node AS v, radii.radius AS radius, sp.root AS u
  FROM sp, radii WHERE sp.d <= radii.radius
), h AS (
  SELECT v, radius,
         CAST(('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 8)) AS BIGINT) AS h32
  FROM members
), reg AS (
  SELECT v, radius, h32 >> 26 AS idx,
         max(CASE WHEN (h32 & 67108863) = 0 THEN 27
                  ELSE 27 - length(bin(h32 & 67108863)) END) AS r
  FROM h GROUP BY v, radius, h32 >> 26
), agg AS (
  SELECT v, radius, count(*) AS n_filled,
         CAST(sum(r) AS BIGINT) AS sum_rank,
         sum(pow(2.0, -r)) AS s_filled
  FROM reg GROUP BY v, radius
), est AS (
  SELECT v, radius, n_filled, sum_rank,
    CASE WHEN 2905.460551022604/(s_filled + (64 - n_filled)*1.0) <= 160.0
              AND 64 - n_filled > 0
         THEN 64.0 * ln(64.0 / (64 - n_filled))
         ELSE 2905.460551022604/(s_filled + (64 - n_filled)*1.0) END AS e
  FROM agg
), inc AS (
  SELECT v, radius, n_filled, sum_rank,
         e - lag(e) OVER (PARTITION BY v ORDER BY radius) AS de
  FROM est
)
SELECT v AS node,
  CAST(sum(n_filled) AS BIGINT) AS fp_filled,
  CAST(sum(sum_rank) AS BIGINT) AS fp_rank,
  round(sum(CASE WHEN radius >= 1 THEN de / radius ELSE 0.0 END), 4)
    AS harmonic_est
FROM inc GROUP BY v
""",
)
def host_graph_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 web curation (r7): HyperBall — the 100 TB harmonic-centrality
    path DIVERGENCES.md promised next to the exact BFS: per-node HLL
    in-ball counters (p=6, the sketches.py md5 register algebra spelled
    identically) grown one radius per round by ONE edges⋈registers
    equi-join + ONE (node, register) hash agg; state is O(nodes · 64)
    register rows, radius-independent — the property that replaces the
    exact variant's O(reachable pairs) at web scale. H(v) estimates
    from ball-size increments. The oracle is a FULL second
    implementation: DuckDB recomputes exact radius-capped reachable
    sets (the recursive-CTE BFS), replays every register (md5/idx/rank
    integers hash-matched via the fp_* fingerprints) and the estimator
    (dyadic 2^-r sums are order-exact; round-4 absorbs ln ulps).
    Accuracy vs the exact query is pinned in tests (mean relative
    error ≈ 1.04/√64). See functions/graph.py."""
    from prom_etl_db_spark.functions import graph

    docs = _t(spark, sf_dir, "documents")
    edges = docs.select(
        (F.col("doc_id") % 50).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 50).alias("dst"),
    )
    return graph.hyperball_harmonic(edges, radius=8, p=6)
