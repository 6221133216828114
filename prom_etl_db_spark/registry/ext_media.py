"""SURVEY.md §2.E — distributed suffix array + substring dedup, FLAC/
AU-AIFF codecs, edit-verified near-dup, skew joins, WordPiece and
Unigram-LM tokenizers, Kneser-Ney, perceptual image hashes, Y4M, NFC.
Contiguous split of the former extensions.py (round 6, pure mechanics
— registration order unchanged)."""

from __future__ import annotations

from datetime import datetime, timedelta  # noqa: F401

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from prom_etl_db_spark import store  # noqa: F401
from prom_etl_db_spark.functions import (  # noqa: F401
    clustering,
    decontam,
    dedup,
    multimodal,
    sampling,
    similarity,
    spectral,
    text,
)
from prom_etl_db_spark.functions import gorilla, linkage, urlnorm  # noqa: F401
from prom_etl_db_spark.operators import analytics, promql  # noqa: F401
from prom_etl_db_spark.registry.core import (  # noqa: F401
    FLAGSHIP_DAY,
    NOW,
    _event_samples,
    _events,
    _t,
    register,
)
from prom_etl_db_spark.timeparse import RelativeTimeParser  # noqa: F401


@register(
    "doc_suffix_array_repeats",
    oracle=r"""
WITH toks AS (
  SELECT doc_id,
         list_append(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != ''),
                     chr(2) || CAST(doc_id AS VARCHAR)) AS t
  FROM documents WHERE doc_id % 23 = 3
), offs AS (
  SELECT doc_id, t,
         COALESCE(SUM(len(t)) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM toks
), stream AS (
  SELECT off + g.x AS gpos, doc_id, g.x AS pos, t[g.x + 1] AS token
  FROM offs, unnest(range(0, len(t))) AS g(x)
), corpus AS (
  SELECT list(token ORDER BY gpos) AS all_toks FROM stream
), sa AS (
  SELECT s.gpos, s.doc_id, s.pos, c.all_toks[s.gpos + 1 : ] AS suffix
  FROM stream s, corpus c
), ranked AS (
  SELECT gpos, doc_id, pos, suffix,
         row_number() OVER (ORDER BY suffix) - 1 AS sa_rank,
         lag(suffix) OVER (ORDER BY suffix) AS prev_suffix
  FROM sa
), lcps AS (
  SELECT sa_rank, gpos, doc_id, pos,
    CASE WHEN prev_suffix IS NULL THEN 0
         ELSE COALESCE(NULLIF(list_position(
                list_transform(range(1, least(len(suffix), len(prev_suffix)) + 1),
                               i -> suffix[i] IS DISTINCT FROM prev_suffix[i]),
                true), 0) - 1,
              least(len(suffix), len(prev_suffix)))
    END AS lcp_prev
  FROM ranked
)
SELECT CAST(sa_rank AS BIGINT) AS sa_rank, CAST(gpos AS BIGINT) AS gpos,
       doc_id, CAST(pos AS INT) AS pos, CAST(lcp_prev AS BIGINT) AS lcp_prev
FROM lcps
""",
)
def doc_suffix_array_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-ext (r5): DISTRIBUTED SUFFIX ARRAY + LCP over the corpus token
    stream — the real arbitrary-length repeated-substring machinery of
    Lee et al. 2022, upgrading `duplicated_span_stats`' fixed-L
    approximation (the DIVERGENCES.md row). Prefix doubling
    (Karp-Miller-Rosenberg): ⌈log2 n⌉ rounds of equi-join + global
    dense rank (distinct keys → RDD range-partitioned sortBy →
    zipWithIndex — the documented RDD exception for global ordinal
    assignment; no single-partition window anywhere); LCP by binary
    lifting over the kept rank tables (the distributed substitute for
    Kasai's sequential scan); unique per-document sentinel tokens fence
    cross-document phantom matches. The oracle is the DEFINITION, not
    the algorithm: DuckDB materializes every suffix as a token list,
    sorts lexicographically (list order = token order on both engines,
    shorter-prefix-first), and scans for the first mismatch — so the
    driver hash pins every SA entry and every exact LCP value the
    doubling ladder + lifting produce. Gate slice doc_id % 23 = 3
    (~1.3k positions) keeps the ⌈log2 n⌉ iterative rounds inside the
    gate budget; the operator itself takes any corpus
    (`functions/suffix.py` — 100 TB posture in the module docstring).
    Any repeat of any length ℓ surfaces as an SA-adjacent pair with
    lcp_prev ≥ ℓ."""
    from prom_etl_db_spark.functions.suffix import suffix_array_with_lcp

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 23 == 3)
    return suffix_array_with_lcp(docs)


@register(
    "doc_substring_dedup_rewrite",
    oracle=r"""
WITH toks AS (
  SELECT doc_id,
         list_append(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != ''),
                     chr(2) || CAST(doc_id AS VARCHAR)) AS t
  FROM documents WHERE doc_id % 23 = 3
), offs AS (
  SELECT doc_id, t,
         COALESCE(SUM(len(t)) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM toks
), stream AS (
  SELECT off + g.x AS gpos, doc_id, g.x AS pos, t[g.x + 1] AS token
  FROM offs, unnest(range(0, len(t))) AS g(x)
), corpus AS (
  SELECT list(token ORDER BY gpos) AS all_toks FROM stream
), sa AS (
  SELECT s.gpos, c.all_toks[s.gpos + 1 : ] AS suffix
  FROM stream s, corpus c
), ranked AS (
  SELECT gpos, suffix,
         row_number() OVER (ORDER BY suffix) - 1 AS sa_rank,
         lag(suffix) OVER (ORDER BY suffix) AS prev_suffix
  FROM sa
), lcps AS (
  SELECT gpos,
    CASE WHEN prev_suffix IS NULL THEN 0
         ELSE COALESCE(NULLIF(list_position(
                list_transform(range(1, least(len(suffix), len(prev_suffix)) + 1),
                               i -> suffix[i] IS DISTINCT FROM prev_suffix[i]),
                true), 0) - 1,
              least(len(suffix), len(prev_suffix)))
    END AS lcp_prev
  FROM ranked
), marked AS (
  SELECT DISTINCT m.gpos + g.x AS gpos
  FROM lcps m, unnest(range(0, m.lcp_prev)) AS g(x)
  WHERE m.lcp_prev >= 2
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(m.gpos) AS BIGINT) AS n_removed,
       COALESCE(string_agg(CASE WHEN m.gpos IS NULL THEN s.token END,
                           ' ' ORDER BY s.pos), '') AS kept_text
FROM stream s LEFT JOIN marked m USING (gpos)
WHERE NOT starts_with(s.token, chr(2))
GROUP BY s.doc_id
""",
)
def doc_substring_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-ext (r5): exact-substring dedup WITH REMOVAL — the operation
    Lee et al. 2022 actually perform — on top of the real suffix array
    (`doc_suffix_array_repeats` is the SA/LCP itself). Every repeated
    span of >= 2 tokens loses all but one kept occurrence (the SA-first
    suffix of each >= L-sharing run; which occurrence survives is an
    implementation choice in the paper too), and each document is
    rewritten without the marked tokens. Marking is one explode +
    DISTINCT over span positions — no windows, embarrassingly parallel
    on top of the SA. The oracle replays the identical marking rule on
    the definitional DuckDB suffix sort and string_agg's the survivors,
    so the driver hash pins the rewritten TEXT of every document plus
    the removal accounting. Same gate slice as the SA query
    (doc_id % 23 = 3)."""
    from prom_etl_db_spark.functions.suffix import substring_dedup_rewrite

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 23 == 3)
    return substring_dedup_rewrite(docs, min_len=2)


@register(
    "audio_flac_decode",
    oracle="""
WITH sig AS (
  SELECT d.doc_id, i.range AS i,
         ((d.doc_id * 7 + 3 * i.range * i.range + 11 * i.range) % 4001)
           - 2000 AS s
  FROM documents d CROSS JOIN range(500) i
  WHERE i.range < 300 + d.doc_id % 200
)
SELECT doc_id AS media_id,
       CAST(300 + doc_id % 200 AS INT) AS n_samples,
       CAST(2 * (300 + doc_id % 200) AS INT) AS n_bytes_raw,
       CAST(sum(s) AS BIGINT) AS ssum,
       CAST(min(s) AS BIGINT) AS smin,
       CAST(max(s) AS BIGINT) AS smax
FROM sig GROUP BY doc_id
""",
)
def audio_flac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 audio, FLAC — from-scratch LOSSLESS codec (r5): unlike MP3,
    every part of FLAC is formula-defined (fixed polynomial predictors,
    Rice coding with zigzag fold, UTF-8-style coded numbers, CRC-8/16
    with stated polynomials — no numeric tables anywhere), so the full
    static decode path is implemented offline from the spec
    (`functions/flac.py`: STREAMINFO, frame sync + header codes,
    CONSTANT/VERBATIM/FIXED/LPC subframes, wasted bits, 4/5-bit Rice
    partitions with raw escapes, left/right/mid-side decorrelation,
    both CRCs verified). The gate encodes a closed-form integer signal
    per document into real FIXED-order-2 + Rice frames and decodes it
    back; losslessness makes the decoded samples EQUAL the closed form,
    so this SQL oracle recomputes exact integer sums/extrema and one
    hash pins the whole predictor + entropy path bit-for-bit (the G.711
    / MPEG-1-Layer-I verification pattern)."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.flac_roundtrip_features(docs)


@register(
    "neardup_edit_verified",
    oracle=r"""
WITH sh AS (
  SELECT doc_id, text,
         list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) AS shingles
  FROM (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents)
  WHERE len(w) >= 3
), g AS (
  SELECT doc_id, unnest(shingles) AS gram FROM sh
), sig AS (
  SELECT doc_id, CAST(b.range AS BIGINT) AS h_idx,
         min(substr(md5(gram || '#' || CAST(b.range AS VARCHAR)), 1, 16)) AS mh
  FROM g CROSS JOIN range(16) b
  GROUP BY doc_id, b.range
), bandkeys AS (
  SELECT doc_id, h_idx // 4 AS band, string_agg(mh, ',' ORDER BY h_idx) AS band_key
  FROM sig GROUP BY doc_id, h_idx // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bandkeys a JOIN bandkeys b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       CAST(levenshtein(sa.text, sb.text) AS INT) AS edit_dist,
       CAST(greatest(length(sa.text), length(sb.text)) AS INT) AS max_len,
       round(CAST(levenshtein(sa.text, sb.text) AS DOUBLE)
             / greatest(length(sa.text), length(sb.text)), 6) AS edit_ratio
FROM cand c
JOIN sh sa ON sa.doc_id = c.id_a
JOIN sh sb ON sb.doc_id = c.id_b
WHERE levenshtein(sa.text, sb.text)
      <= 0.6 * greatest(length(sa.text), length(sb.text))
""",
)
def neardup_edit_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 (r5): candidate-generate / EXACT-VERIFY near-dup with a
    stricter verifier — md5 MinHash banding (the `minhash_band_pairs`
    construction, stage-for-stage SQL-replayable) generates candidates;
    verification is character-level Levenshtein via the JVM built-in,
    which unlike set-Jaccard is order- and multiplicity-sensitive. Both
    engines implement the identical classic DP, so edit_dist is
    INTEGER-exact across the oracle — no rounding convention needed on
    the distance itself. At 100 TB the banding bounds candidate volume
    exactly as the MinHash pipeline; the O(len^2) verify runs only on
    candidates, never all-pairs."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.edit_verified_dup_pairs(
        docs, shingle_n=3, num_hashes=16, bands=4, max_edit_ratio=0.6
    )


@register(
    "audio_au_aiff_decode",
    oracle="""
WITH s AS (
  SELECT d.doc_id, d.doc_id % 64 + 16 AS n, i.range AS i
  FROM documents d CROSS JOIN range(80) i
  WHERE i.range < d.doc_id % 64 + 16
), vals AS (
  SELECT doc_id, n, i,
    -- AU u-law bytes expand through the CCITT formula verbatim
    CASE WHEN ((255 - ((doc_id + 7 * i) % 256)) & 128) != 0
         THEN 132 - ((((255 - ((doc_id + 7 * i) % 256)) & 15) * 8 + 132)
                     * (1 << (((255 - ((doc_id + 7 * i) % 256)) >> 4) & 7)))
         ELSE (((255 - ((doc_id + 7 * i) % 256)) & 15) * 8 + 132)
              * (1 << (((255 - ((doc_id + 7 * i) % 256)) >> 4) & 7)) - 132
    END AS vu,
    -- AIFF PCM closed form (int16 cast wraps nothing: |v| <= 30000)
    ((doc_id * 13 + 17 * i * i) % 60001) - 30000 AS vp
  FROM s
)
SELECT doc_id AS media_id,
       CAST(min(n) AS INT) AS au_n,
       CAST(sum(vu) AS BIGINT) AS au_sum,
       CAST(sum(vu * vu) AS BIGINT) AS au_sumsq,
       CAST(min(n) AS INT) AS aiff_n,
       CAST(sum(vp) AS BIGINT) AS aiff_sum,
       CAST(sum(vp * vp) AS BIGINT) AS aiff_sumsq,
       CAST(8000 + (doc_id % 7) * 1225 AS INT) AS aiff_rate
FROM vals GROUP BY doc_id
""",
)
def audio_au_aiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 audio containers (r5): AU (Sun/NeXT — six-word big-endian
    header, u-law payload expanded through the same CCITT tables as the
    G.711 WAV path) and AIFF (FORM/COMM/SSND with the sample rate as an
    80-bit IEEE EXTENDED float — 15-bit biased exponent + explicit-
    integer-bit 64-bit mantissa, a formula-defined construct round-
    tripped exactly for every fixture rate including non-powers like
    9225 Hz) complete the classic PCM container family beside WAV and
    FLAC. Per document both files are written from closed forms and
    fully decoded back; every hashed column is decode-derived exact
    integer arithmetic, recomputed verbatim by this oracle."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.au_aiff_roundtrip_features(docs)


@register(
    "curation_pipeline_v2",
    oracle=r"""
WITH src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN repeat(
                'the words of that land have been with them and they stay true. ',
                CAST(4 + doc_id % 4 AS INT))
              ELSE text END AS text
  FROM documents WHERE doc_id % 23 = 3
), toks AS (
  SELECT doc_id,
         list_append(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != ''),
                     chr(2) || CAST(doc_id AS VARCHAR)) AS t
  FROM src
), offs AS (
  SELECT doc_id, t,
         COALESCE(SUM(len(t)) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM toks
), stream AS (
  SELECT off + g.x AS gpos, doc_id, g.x AS pos, t[g.x + 1] AS token
  FROM offs, unnest(range(0, len(t))) AS g(x)
), corpus AS (
  SELECT list(token ORDER BY gpos) AS all_toks FROM stream
), sa AS (
  SELECT s.gpos, c.all_toks[s.gpos + 1 : ] AS suffix
  FROM stream s, corpus c
), ranked AS (
  SELECT gpos, suffix,
         lag(suffix) OVER (ORDER BY suffix) AS prev_suffix
  FROM sa
), lcps AS (
  SELECT gpos,
    CASE WHEN prev_suffix IS NULL THEN 0
         ELSE COALESCE(NULLIF(list_position(
                list_transform(range(1, least(len(suffix), len(prev_suffix)) + 1),
                               i -> suffix[i] IS DISTINCT FROM prev_suffix[i]),
                true), 0) - 1,
              least(len(suffix), len(prev_suffix)))
    END AS lcp_prev
  FROM ranked
), marked AS (
  SELECT DISTINCT m.gpos + g.x AS gpos
  FROM lcps m, unnest(range(0, m.lcp_prev)) AS g(x)
  WHERE m.lcp_prev >= 2
), kept AS (
  SELECT s.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(m.gpos) AS BIGINT) AS n_removed,
         COALESCE(string_agg(CASE WHEN m.gpos IS NULL THEN s.token END,
                             ' ' ORDER BY s.pos), '') AS kept_text
  FROM stream s LEFT JOIN marked m USING (gpos)
  WHERE NOT starts_with(s.token, chr(2))
  GROUP BY s.doc_id
), gw AS (
  SELECT doc_id, n_tokens, n_removed, kept_text,
         list_filter(regexp_split_to_array(lower(kept_text), '\s+'),
                     x -> x != '') AS words
  FROM kept
), gopher AS (
  SELECT doc_id, n_tokens, n_removed, kept_text,
         len(words) AS n_words,
         len(list_intersect(list_distinct(words),
             ['the','be','to','of','and','that','have','with'])) AS stop_hits,
         (len(words) BETWEEN 50 AND 100000)
           AND len(list_intersect(list_distinct(words),
               ['the','be','to','of','and','that','have','with'])) >= 2
           AS gopher_sketch_pass
  FROM gw
), dtoks AS (
  SELECT doc_id, doc_id % 2 = 0 AS is_target,
         list_filter(regexp_split_to_array(lower(kept_text), '\s+'),
                     x -> x != '') AS tk
  FROM kept
), grams AS (
  SELECT doc_id, is_target, unnest(
    list_concat(tk,
      list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]))) AS g
  FROM dtoks
), feats AS (
  SELECT doc_id, is_target,
         CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 256 AS b
  FROM grams
), per_doc AS (
  SELECT doc_id, b, count(*) AS c, bool_or(is_target) AS is_target
  FROM feats GROUP BY 1, 2
), model AS (
  SELECT b, sum(c) AS r,
         sum(CASE WHEN is_target THEN c ELSE 0 END) AS t
  FROM per_doc GROUP BY b
), tot AS (SELECT sum(r) AS r_total, sum(t) AS t_total FROM model),
lr AS (
  SELECT b, ln((t + 1) / (t_total + 256.0))
            - ln((r + 1) / (r_total + 256.0)) AS lr
  FROM model CROSS JOIN tot
), dsir AS (
  SELECT d.doc_id, CAST(sum(d.c) AS BIGINT) AS n_feats,
         round(sum(d.c * lr.lr), 4) AS dsir_logw
  FROM per_doc d JOIN lr USING (b) GROUP BY d.doc_id
)
SELECT g.doc_id, g.n_tokens, g.n_removed,
       CAST(g.n_words AS INT) AS n_words,
       CAST(g.stop_hits AS INT) AS stop_hits,
       g.gopher_sketch_pass,
       CAST(COALESCE(d.n_feats, 0) AS BIGINT) AS n_feats,
       d.dsir_logw
FROM gopher g LEFT JOIN dsir d USING (doc_id)
""",
)
def curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5 COMPOSED curation flagship: the new operators chained
    end-to-end over a constructed bimodal corpus (the doc_gopher_split
    English stratum on even doc_ids, raw fixture text on odd; slice
    doc_id % 23 = 3 to bound the suffix-array rounds) —

      1. `suffix.substring_dedup_rewrite` (L=2): the Lee-et-al removal
         pass dedups the repeated English sentence down to one kept
         occurrence and prunes fixture-text repeats;
      2. Gopher-style audit on the REWRITTEN text (word count + the
         stopword rule — emitted as `gopher_sketch_pass`; dedup drops
         the English pages under the 50-word floor, so the composition
         itself demonstrates why rule order matters in real pipelines);
      3. `sampling.dsir_logweights` scored on the rewritten text with
         the English stratum as the DSIR target — quality-targeted
         selection over deduped documents.

    One oracle replays the whole chain (SA sort + marking + rewrite →
    word/stopword algebra → the md5-bucket DSIR model) so the driver
    hash pins the COMPOSITION, not just the stages; docs whose rewrite
    keeps no features survive via the left join with n_feats = 0
    (DSIR's documented omission contract made whole at the pipeline
    level). Measured at sf0.01: the ten IDENTICAL English pages
    collapse to ONE surviving copy (cross-document exact-substring
    dedup working exactly as Lee et al. intend — nine docs empty out
    entirely, the SA-first survivor keeps the 13-token sentence, scores
    six stopword hits and the slice's only POSITIVE DSIR weight), while
    every raw-text doc keeps a unique remainder and scores negative."""
    from prom_etl_db_spark.functions.suffix import substring_dedup_rewrite

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 23 == 3)
    eng = F.repeat(
        F.lit(
            "the words of that land have been with them and they stay true. "
        ),
        (F.lit(4) + F.col("doc_id") % 4).cast("int"),
    )
    bimodal = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, eng)
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # r12 note: rw feeds both the audit and the DSIR branch; persist/
    # localCheckpoint were both measured here and neither beat the plain
    # plan (AQE exchange reuse dedupes the shared SA tail at runtime) —
    # left unpersisted deliberately, see OPTIMIZATION_r12.md
    rw = substring_dedup_rewrite(bimodal, min_len=2)
    words = F.filter(
        F.split(F.lower(F.col("kept_text")), r"\s+"), lambda x: x != ""
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(words),
            F.array(*[F.lit(s) for s in text.GOPHER_STOPWORDS]),
        )
    )
    audited = rw.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        "kept_text",
        F.size(words).alias("n_words"),
        stop_hits.alias("stop_hits"),
        (F.size(words).between(50, 100_000) & (stop_hits >= 2)).alias(
            "gopher_sketch_pass"
        ),
    )
    dsir = sampling.dsir_logweights(
        rw, target=F.col("doc_id") % 2 == 0, text_col="kept_text"
    ).select(
        F.col("doc_id"), F.col("n_feats"), F.col("dsir_logw")
    )
    return (
        audited.join(dsir, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_removed",
            "n_words",
            "stop_hits",
            "gopher_sketch_pass",
            F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
            "dsir_logw",
        )
    )


# =========================================================================
# Round 5: skew-mitigation joins under the driver oracle. Both queries
# are VALUE-IDENTICAL to the plain equi-join by construction — that
# identity is exactly what the oracle (a plain SQL join) certifies; the
# techniques exist for the plan, not the values (operators/skew.py).
# =========================================================================


@register(
    "events_salted_type_join",
    oracle="""
WITH dim AS (
  SELECT event_type, avg(value) AS type_avg FROM events GROUP BY event_type
)
SELECT e.event_type, count(*) AS n,
       round(sum(abs(e.value - d.type_avg)), 4) AS total_absdev
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY e.event_type
""",
)
def events_salted_type_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join (operators/skew.py): events joined to a per-type
    aggregate on the 5-value ``event_type`` key — the low-cardinality
    shape where a plain shuffle join can use at most 5 reducers no matter
    the cluster size. ``salted_join`` widens the key space ×16 with a
    deterministic (retry-safe) xxhash64 salt on ``event_id`` and
    replicates the 5-row dim per salt; the result is row-identical to the
    plain join, which is precisely what this oracle checks. The dim here
    is broadcast-sized (so Catalyst plans BHJ at sf0.01); the operator
    targets the case where it is not — see tests/test_skew_layout.py for
    the plan gate asserting the salt rides the join condition."""
    from prom_etl_db_spark.operators.skew import salted_join

    ev = _events(spark, sf_dir)
    dim = ev.groupBy("event_type").agg(F.avg("value").alias("type_avg"))
    joined = salted_join(
        ev, dim, ["event_type"], salts=16, salt_src=["event_id"]
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.abs(F.col("value") - F.col("type_avg"))), 4).alias(
            "total_absdev"
        ),
    )


@register(
    "events_skew_split_join",
    oracle="""
WITH dim AS (
  SELECT event_type, avg(value) AS type_avg FROM events GROUP BY event_type
)
SELECT e.event_type, count(*) AS n,
       round(sum(abs(e.value - d.type_avg)), 4) AS total_absdev
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY e.event_type
""",
)
def events_skew_split_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot/cold split join (operators/skew.py): the two heaviest
    event_type keys (measured by ``top_skewed_keys`` — deterministic:
    count desc, key asc tiebreak) take a broadcast of the dim's hot
    slice, the cold keys take the ordinary shuffle join, and the union is
    row-identical to the plain join — the same oracle as the salted twin
    certifies it. This is the shape AQE cannot produce when the right
    side is overall too big to broadcast but its hot slice is tiny."""
    from prom_etl_db_spark.operators.skew import split_skew_join, top_skewed_keys

    ev = _events(spark, sf_dir)
    dim = ev.groupBy("event_type").agg(F.avg("value").alias("type_avg"))
    hot = top_skewed_keys(ev, ["event_type"], k=2, min_share=0.01)
    joined = split_skew_join(ev, dim, ["event_type"], hot_keys=hot)
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.abs(F.col("value") - F.col("type_avg"))), 4).alias(
            "total_absdev"
        ),
    )


@register(
    "wordpiece_learned_merges",
    oracle=r"""
WITH RECURSIVE words0 AS (
  SELECT w, count(*) AS freq FROM (
    SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w FROM documents)
  WHERE length(w) > 0 GROUP BY w
), vocab0 AS (
  SELECT list(struct_pack(freq := freq,
    s := ' ' || array_to_string(
           list_concat(
             [list_filter(string_split(w, ''), x -> x != '')[1]],
             list_transform(list_filter(string_split(w, ''), x -> x != '')[2:],
                            c -> '##' || c)),
           '  ') || ' ')) AS vocab
  FROM words0
), steps AS (
  SELECT 0 AS i, CAST(NULL AS STRUCT(a VARCHAR, b VARCHAR)) AS w, vocab FROM vocab0
  UNION ALL
  SELECT i + 1, win,
    list_transform(vocab, v -> struct_pack(freq := v.freq,
      s := replace(v.s, ' ' || win.a || '  ' || win.b || ' ',
                   ' ' || win.a ||
                   (CASE WHEN win.b LIKE '##%' THEN substr(win.b, 3)
                         ELSE win.b END) || ' ')))
  FROM (
    SELECT i, vocab,
      (SELECT struct_pack(a := l, b := r)
       FROM (
         SELECT tk[x] AS l, tk[x+1] AS r, sum(freq) AS n
         FROM (SELECT u.freq AS freq,
                      string_split(trim(u.s, ' '), '  ') AS tk
               FROM unnest(vocab) AS t(u)),
              unnest(range(1, len(tk))) AS g(x)
         GROUP BY 1, 2) p
       JOIN (SELECT tok, sum(f2) AS tf
             FROM (SELECT u2.freq AS f2,
                          unnest(string_split(trim(u2.s, ' '), '  ')) AS tok
                   FROM unnest(vocab) AS t2(u2))
             GROUP BY tok) fl ON fl.tok = p.l
       JOIN (SELECT tok, sum(f3) AS tf
             FROM (SELECT u3.freq AS f3,
                          unnest(string_split(trim(u3.s, ' '), '  ')) AS tok
                   FROM unnest(vocab) AS t3(u3))
             GROUP BY tok) fr ON fr.tok = p.r
       ORDER BY CAST(p.n AS DOUBLE) / (CAST(fl.tf AS DOUBLE) * CAST(fr.tf AS DOUBLE)) DESC,
                p.l, p.r
       LIMIT 1) AS win
    FROM steps WHERE i < 8
  )
)
SELECT CAST(i AS BIGINT) AS rank, w.a AS left_tok, w.b AS right_tok,
       w.a || (CASE WHEN w.b LIKE '##%' THEN substr(w.b, 3) ELSE w.b END) AS merged
FROM steps WHERE i >= 1 ORDER BY rank
""",
)
def wordpiece_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed WordPiece tokenizer training (`text.wordpiece_train`;
    Schuster & Nakajima 2012, the BERT tokenizer's construction): 8
    merges learned by the LIKELIHOOD objective — argmax of
    count(ab)/(count(a)*count(b)) instead of BPE's raw count — with the
    '##' continuation-marker convention replacing BPE's '</w>'. The
    oracle replays the trainer as a DuckDB recursive CTE (the
    bpe_learned_merges technique, extended with per-round token-frequency
    joins for the score's denominator); the score divides exact integer
    counts as doubles through the same IEEE ops on both engines, and
    ties break (left, right) lexicographic, so the argmax sequence is
    engine-portable. Also exact-equality unit-tested against a
    from-scratch local reference (tests/test_wordpiece.py)."""
    docs = _t(spark, sf_dir, "documents")
    merges = text.wordpiece_train(docs, 8)
    return spark.createDataFrame(
        [
            (i + 1, a, b, text._wp_merged_name(a, b))
            for i, (a, b) in enumerate(merges)
        ],
        "rank long, left_tok string, right_tok string, merged string",
    )


@register(
    "wordpiece_encoded_token_counts",
    oracle=r"""
WITH RECURSIVE words0 AS (
  SELECT w, count(*) AS freq FROM (
    SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w FROM documents)
  WHERE length(w) > 0 GROUP BY w
), vocab0 AS (
  SELECT list(struct_pack(freq := freq,
    s := ' ' || array_to_string(
           list_concat(
             [list_filter(string_split(w, ''), x -> x != '')[1]],
             list_transform(list_filter(string_split(w, ''), x -> x != '')[2:],
                            c -> '##' || c)),
           '  ') || ' ')) AS vocab
  FROM words0
), steps AS (
  SELECT 0 AS i, CAST(NULL AS STRUCT(a VARCHAR, b VARCHAR)) AS w, vocab FROM vocab0
  UNION ALL
  SELECT i + 1, win,
    list_transform(vocab, v -> struct_pack(freq := v.freq,
      s := replace(v.s, ' ' || win.a || '  ' || win.b || ' ',
                   ' ' || win.a ||
                   (CASE WHEN win.b LIKE '##%' THEN substr(win.b, 3)
                         ELSE win.b END) || ' ')))
  FROM (
    SELECT i, vocab,
      (SELECT struct_pack(a := l, b := r)
       FROM (
         SELECT tk[x] AS l, tk[x+1] AS r, sum(freq) AS n
         FROM (SELECT u.freq AS freq,
                      string_split(trim(u.s, ' '), '  ') AS tk
               FROM unnest(vocab) AS t(u)),
              unnest(range(1, len(tk))) AS g(x)
         GROUP BY 1, 2) p
       JOIN (SELECT tok, sum(f2) AS tf
             FROM (SELECT u2.freq AS f2,
                          unnest(string_split(trim(u2.s, ' '), '  ')) AS tok
                   FROM unnest(vocab) AS t2(u2))
             GROUP BY tok) fl ON fl.tok = p.l
       JOIN (SELECT tok, sum(f3) AS tf
             FROM (SELECT u3.freq AS f3,
                          unnest(string_split(trim(u3.s, ' '), '  ')) AS tok
                   FROM unnest(vocab) AS t3(u3))
             GROUP BY tok) fr ON fr.tok = p.r
       ORDER BY CAST(p.n AS DOUBLE) / (CAST(fl.tf AS DOUBLE) * CAST(fr.tf AS DOUBLE)) DESC,
                p.l, p.r
       LIMIT 1) AS win
    FROM steps WHERE i < 8
  )
), vset AS (
  SELECT list(DISTINCT t) AS v FROM (
    SELECT unnest(string_split(trim(u.s, ' '), '  ')) AS t
    FROM (SELECT vocab FROM steps WHERE i = 0), unnest(vocab) AS tt(u)
    UNION
    SELECT w.a || (CASE WHEN w.b LIKE '##%' THEN substr(w.b, 3) ELSE w.b END)
    FROM steps WHERE i >= 1)
), enc AS (
  SELECT w, 1 AS pos, 0 AS n_toks, false AS unk FROM words0
  UNION ALL
  SELECT w,
         CASE WHEN step IS NULL THEN length(w) + 1 ELSE pos + step END,
         CASE WHEN step IS NULL THEN 1 ELSE n_toks + 1 END,
         step IS NULL
  FROM (
    SELECT e.w AS w, e.pos AS pos, e.n_toks AS n_toks,
      (SELECT max(length(CASE WHEN e.pos > 1 THEN substr(t, 3) ELSE t END))
       FROM vset, unnest(v) AS vv(t)
       WHERE (CASE WHEN e.pos > 1 THEN t LIKE '##%' AND length(t) > 2
                   ELSE t NOT LIKE '##%' END)
         AND (CASE WHEN e.pos > 1 THEN substr(t, 3) ELSE t END)
             = substr(e.w, e.pos,
                      length(CASE WHEN e.pos > 1 THEN substr(t, 3) ELSE t END))
      ) AS step
    FROM enc e
    WHERE e.pos <= length(e.w) AND NOT e.unk
  )
), encoded AS (
  SELECT w, n_toks, unk FROM enc WHERE pos > length(w)
), docwords AS (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '\s+')) AS w
    FROM documents)
  WHERE length(w) > 0
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(wt.n_toks) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN wt.unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
FROM docwords d JOIN encoded wt USING (w)
GROUP BY d.doc_id
""",
)
def wordpiece_encoded_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece ENCODE end to end: train 8 merges, build the runtime
    vocabulary (corpus alphabet + fusions — WordPiece ships a vocab and
    greedy-matches, it does NOT replay merges like BPE), greedy
    longest-prefix-encode every DISTINCT word (BERT's runtime algorithm,
    whole word -> [UNK] on any unmatchable position), and count
    per-document (n_words, n_tokens, n_unk). The oracle replays
    training via the recursive CTE AND the greedy matcher via a second
    recursive CTE (state = (word, pos, n_toks); each step takes the
    longest vocabulary token matching at pos, '##'-constrained for
    pos>1), so one hash pins the likelihood argmax loop, the vocabulary
    closure, the longest-match discipline, and the join-back accounting
    together. Scale: the matcher touches only the distinct-word vocab
    (an Arrow-batched pandas UDF over a language-sized table); the
    corpus-sized work is one explode + one broadcast-class join."""
    docs = _t(spark, sf_dir, "documents")
    return text.wordpiece_token_counts(docs, 8)


# =========================================================================
# Round-5: Unigram-LM (SentencePiece) tokenizer — the third published
# subword construction (Kudo 2018), completing the trio beside BPE and
# WordPiece. The oracle replays the WHOLE trainer in DuckDB: seed
# substring counts, the Viterbi DP as a linear recursive CTE (state =
# a 4-slot window of best-path structs — dp[pos] depends only on
# dp[pos-1..pos-4] because tokens cap at 4 chars, so the recursion is
# LINEAR in word length, never path-enumerating), one hard-EM
# re-estimation, and the final encode. Shared prefix below; the two
# queries append different tails (vocab vs per-doc accounting).
# =========================================================================

_UNIGRAM_SENT = (
    "struct_pack(lp := CAST(-1.0e18 AS DOUBLE), n := CAST(0 AS BIGINT), "
    "toks := CAST([] AS VARCHAR[]))"
)

_UNIGRAM_PASS = """
  SELECT w, freq, 0 AS pos,
         [{sent}, {sent}, {sent},
          struct_pack(lp := CAST(0.0 AS DOUBLE), n := CAST(0 AS BIGINT),
                      toks := CAST([] AS VARCHAR[]))] AS win
  FROM words0
  UNION ALL
  SELECT w, freq, pos + 1,
         [win[2], win[3], win[4], COALESCE(best, {sent})]
  FROM (
    SELECT e.w AS w, e.freq AS freq, e.pos AS pos, e.win AS win,
      (SELECT struct_pack(
           lp := e.win[CAST(5 - k AS INTEGER)].lp + v.lp,
           n := e.win[CAST(5 - k AS INTEGER)].n + 1,
           toks := e.win[CAST(5 - k AS INTEGER)].toks || [v.tok])
       FROM unnest(range(1, 5)) AS g(k)
       JOIN {model} v
         ON v.tok = substr(e.w, CAST(e.pos + 2 - k AS INTEGER),
                           CAST(k AS INTEGER))
       WHERE k <= e.pos + 1 AND e.win[CAST(5 - k AS INTEGER)].lp > -1.0e17
       ORDER BY e.win[CAST(5 - k AS INTEGER)].lp + v.lp DESC,
                e.win[CAST(5 - k AS INTEGER)].n + 1 ASC, k DESC
       LIMIT 1) AS best
    FROM {name} e WHERE e.pos < length(e.w)
  )
"""

_UNIGRAM_CTES = (
    r"""
WITH RECURSIVE words0 AS (
  SELECT w, count(*) AS freq FROM (
    SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w
    FROM documents)
  WHERE length(w) > 0 GROUP BY w
), subs AS (
  SELECT substr(w, CAST(s AS INTEGER), CAST(k AS INTEGER)) AS tok,
         sum(freq) AS cnt
  FROM words0,
       unnest(range(1, length(w) + 1)) AS g1(s),
       unnest(range(1, 5)) AS g2(k)
  WHERE s + k - 1 <= length(w)
  GROUP BY 1
), seed AS (
  SELECT tok, cnt FROM subs WHERE length(tok) = 1
  UNION ALL
  SELECT tok, cnt FROM (
    SELECT tok, cnt FROM subs WHERE length(tok) > 1
    ORDER BY cnt DESC, tok ASC LIMIT 40) q
), p0 AS (
  SELECT tok, ln(CAST(cnt AS DOUBLE) /
                 CAST((SELECT sum(cnt) FROM seed) AS DOUBLE)) AS lp
  FROM seed
), pass1 AS ("""
    + _UNIGRAM_PASS.format(sent=_UNIGRAM_SENT, model="p0", name="pass1")
    + r"""), seg1 AS (
  SELECT w, freq, win[4] AS dp FROM pass1 WHERE pos = length(w)
), em AS (
  SELECT tok, sum(freq) AS cnt FROM (
    SELECT freq, unnest(dp.toks) AS tok FROM seg1) GROUP BY tok
)"""
)


@register(
    "unigram_lm_vocab",
    oracle=_UNIGRAM_CTES
    + r"""
SELECT s.tok AS token, CAST(s.cnt AS BIGINT) AS seed_count,
       CAST(em.cnt AS BIGINT) AS em_count,
       round(ln(CAST(em.cnt AS DOUBLE) /
                CAST((SELECT sum(cnt) FROM em) AS DOUBLE)), 6) AS logp
FROM em JOIN seed s ON s.tok = em.tok
""",
)
def unigram_lm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (`functions/unigram.py`, Kudo 2018
    with deterministic hard EM): seed every <=4-char word-internal
    substring (chars always kept, top-40 multis by count desc / token
    asc), Viterbi-segment the distinct-word table under the seed model,
    re-estimate token counts along each word's single best path, and
    ship the surviving vocabulary with its fitted log-probabilities.
    The oracle replays all four stages; the Viterbi DP is a LINEAR
    recursive CTE carrying a 4-slot window of best-path structs (the
    4-char token cap bounds the DP dependency horizon), so the replay
    is O(total word length), never path-enumerating. Ties in the DP
    break (logprob desc, n_toks asc, longer-final-token) — a total
    order both engines apply to the same IEEE doubles. Scale: the
    corpus collapses to distinct words before any of this; see the
    module docstring for the 100 TB layout."""
    from prom_etl_db_spark.functions import unigram

    docs = _t(spark, sf_dir, "documents")
    return unigram.unigram_train(docs).select(
        "token", "seed_count", "em_count", F.round("logp", 6).alias("logp")
    )


@register(
    "unigram_encoded_token_counts",
    oracle=_UNIGRAM_CTES
    + r""", p1 AS (
  SELECT tok, ln(CAST(cnt AS DOUBLE) /
                 CAST((SELECT sum(cnt) FROM em) AS DOUBLE)) AS lp
  FROM em
), pass2 AS ("""
    + _UNIGRAM_PASS.format(sent=_UNIGRAM_SENT, model="p1", name="pass2")
    + r"""), seg2 AS (
  SELECT w, win[4] AS dp FROM pass2 WHERE pos = length(w)
), docwords AS (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '\s+')) AS w
    FROM documents)
  WHERE length(w) > 0
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(s.dp.n) AS BIGINT) AS n_tokens,
       round(-sum(s.dp.lp), 4) AS neg_logp
FROM docwords d JOIN seg2 s ON s.w = d.w
GROUP BY d.doc_id
""",
)
def unigram_encoded_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM ENCODE end to end: train (seed -> Viterbi -> hard EM),
    then Viterbi-segment every distinct word under the FITTED model and
    account per document (n_words, n_tokens, neg_logp — the document's
    total negative log-likelihood, the model's own compression score;
    the CCNet-style selection signal a trained tokenizer gives away for
    free). The oracle replays training AND encode: two linear recursive
    Viterbi CTEs chained through the hard-EM count table, so one hash
    pins seed counting, both DPs (with their tiebreaks), the MLE
    re-estimation, and the broadcast-join accounting together.
    neg_logp rounds at 4 decimals AFTER the per-doc sum (the
    established tolerance for sum-order ulp drift across engines)."""
    from prom_etl_db_spark.functions import unigram

    docs = _t(spark, sf_dir, "documents")
    return unigram.unigram_token_counts(docs)


@register(
    "doc_kneser_ney_perplexity",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, lang = 'en' AS is_train,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x != '') AS tk
  FROM documents
), tri AS (
  SELECT doc_id, is_train, tk[x] AS u, tk[x+1] AS v, tk[x+2] AS w
  FROM toks, unnest(range(1, len(tk) - 1)) AS g(x)
), c3 AS (
  SELECT u, v, w, count(*) AS c3 FROM tri WHERE is_train GROUP BY 1, 2, 3
), h2 AS (
  SELECT u, v, CAST(sum(c3) AS BIGINT) AS c2h, count(*) AS n3h
  FROM c3 GROUP BY 1, 2
), cb AS (
  SELECT v, w, count(*) AS cb FROM c3 GROUP BY 1, 2
), n1v AS (
  SELECT v, CAST(sum(cb) AS BIGINT) AS cvtot, count(*) AS cvty
  FROM cb GROUP BY 1
), p1t AS (
  SELECT w, count(*) AS n1c FROM cb GROUP BY 1
), tot AS (
  SELECT count(*) AS btypes, count(DISTINCT w) AS wtypes FROM cb
), voc AS (
  SELECT count(DISTINCT u.w) AS vsz
  FROM (SELECT unnest(tk) AS w FROM toks WHERE is_train) u
), joined AS (
  SELECT t.doc_id, c3.c3, h2.c2h, h2.n3h, cb.cb, n1v.cvtot, n1v.cvty,
         (greatest(coalesce(p1t.n1c, 0) - 0.75, 0.0)
          + 0.75 * tot.wtypes / (voc.vsz + 1.0)) / tot.btypes AS p1
  FROM tri t
  LEFT JOIN c3 ON c3.u = t.u AND c3.v = t.v AND c3.w = t.w
  LEFT JOIN h2 ON h2.u = t.u AND h2.v = t.v
  LEFT JOIN cb ON cb.v = t.v AND cb.w = t.w
  LEFT JOIN n1v ON n1v.v = t.v
  LEFT JOIN p1t ON p1t.w = t.w
  CROSS JOIN tot CROSS JOIN voc
), mid AS (
  SELECT doc_id, c3, c2h, n3h,
         CASE WHEN cvtot IS NULL THEN p1
              ELSE (greatest(coalesce(cb, 0) - 0.75, 0.0)
                    + 0.75 * cvty * p1) / cvtot
         END AS p2
  FROM joined
), scored AS (
  SELECT doc_id,
         ln(CASE WHEN c2h IS NULL THEN p2
                 ELSE (greatest(coalesce(c3, 0) - 0.75, 0.0)
                       + 0.75 * n3h * p2) / c2h
            END) AS logp
  FROM mid
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       round(avg(logp), 6) AS avg_logp,
       round(exp(-avg(logp)), 4) AS ppl
FROM scored GROUP BY doc_id
""",
)
def doc_kneser_ney_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney trigram perplexity (Chen & Goodman 1999)
    trained on the lang='en' slice and scored over the whole corpus —
    the published smoothing KenLM implements and CCNet's quality LM
    relies on, completing the LM-quality ladder above
    `doc_bigram_lm_perplexity`'s add-α MLE. The oracle replays the
    ENTIRE estimator: trigram type counts, both continuation-count
    re-aggregations, the distinct-continuation totals, the uniform OOV
    leak, and the exact two-level backoff CASE structure, with every
    arithmetic expression written in the same shape on both engines so
    per-trigram log-probabilities agree bit-for-bit (only the per-doc
    mean crosses sum-order, handled by the round-6/round-4 convention).
    Documents with <3 tokens carry no trigram and are omitted — the
    same routing stance as the bigram query's single-word rule."""
    docs = _t(spark, sf_dir, "documents")
    return text.kneser_ney_trigram_perplexity(docs)


# Shared SQL replay of the perceptual-hash fixture + code algebra
# (functions/phash.py): closed-form 18x16 pixels -> exact 2x2 box means
# -> row-wise gradient bits -> 8 LSB-first band bytes (+ aHash dark
# count). Integer arithmetic end to end, so both engines agree exactly.
_PHASH_CODES_SQL = r"""
WITH px AS (
  SELECT doc_id, rr, cc,
         CASE WHEN doc_id % 50 = 1 AND rr BETWEEN 4 AND 5
                   AND cc BETWEEN 6 AND 7
              THEN (v0 + 120) % 241 ELSE v0 END AS v
  FROM (
    SELECT doc_id, rr, cc,
           (((eff % 239) + 2) * (rr * 31 + cc * 17 + 5)
            + ((eff % 233) + 1) * (rr * cc + 7) + eff) % 241 AS v0
    FROM (
      SELECT d.doc_id, r.range AS rr, c.range AS cc,
             d.doc_id - CASE WHEN d.doc_id % 50 = 1 THEN 1 ELSE 0 END AS eff
      FROM documents d CROSS JOIN range(16) r CROSS JOIN range(18) c
    )
  )
), cells AS (
  SELECT doc_id, rr // 2 AS gr, cc // 2 AS gc,
         CAST(sum(v) // 4 AS BIGINT) AS a
  FROM px GROUP BY 1, 2, 3
), bits AS (
  SELECT l.doc_id, l.gr, l.gc,
         CASE WHEN l.a > r.a THEN 1 ELSE 0 END AS bit
  FROM cells l JOIN cells r
    ON r.doc_id = l.doc_id AND r.gr = l.gr AND r.gc = l.gc + 1
), bands AS (
  SELECT doc_id, gr, CAST(sum(bit * (1 << gc)) AS INT) AS bv
  FROM bits GROUP BY 1, 2
), codes AS (
  SELECT doc_id,
         CAST(max(CASE WHEN gr = 0 THEN bv END) AS INT) AS d0,
         CAST(max(CASE WHEN gr = 1 THEN bv END) AS INT) AS d1,
         CAST(max(CASE WHEN gr = 2 THEN bv END) AS INT) AS d2,
         CAST(max(CASE WHEN gr = 3 THEN bv END) AS INT) AS d3,
         CAST(max(CASE WHEN gr = 4 THEN bv END) AS INT) AS d4,
         CAST(max(CASE WHEN gr = 5 THEN bv END) AS INT) AS d5,
         CAST(max(CASE WHEN gr = 6 THEN bv END) AS INT) AS d6,
         CAST(max(CASE WHEN gr = 7 THEN bv END) AS INT) AS d7
  FROM bands GROUP BY doc_id
)
"""


@register(
    "image_dhash_codes",
    oracle=_PHASH_CODES_SQL
    + r""", dark AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN a < m THEN 1 ELSE 0 END) AS INT) AS n_dark
  FROM (SELECT doc_id, a,
               sum(a) OVER (PARTITION BY doc_id) // 72 AS m
        FROM cells)
  GROUP BY doc_id
)
SELECT c.doc_id, c.d0, c.d1, c.d2, c.d3, c.d4, c.d5, c.d6, c.d7, k.n_dark
FROM codes c JOIN dark k USING (doc_id)
""",
)
def image_dhash_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4/E2 (r5): perceptual image codes — dHash (gradient signs over
    the exact 2x2-box-averaged 9x8 grid, 8 LSB-first band bytes) plus
    the aHash dark-cell count — computed over a REAL PNG roundtrip:
    the closed-form image is encoded by the five-filter-cycling PNG
    writer and decoded by the from-scratch decoder before hashing
    (`functions/phash.py`), so this one hash pins the codec path AND
    the hash algebra (the FLAC lossless-roundtrip pattern). The oracle
    recomputes pixels, box means, bits, and packing in pure integer
    SQL. Hashing is a map over the decode scan — zero shuffle."""
    from prom_etl_db_spark.functions import phash

    docs = _t(spark, sf_dir, "documents")
    return phash.image_dhash_codes(docs)


@register(
    "image_phash_neardup_pairs",
    oracle=_PHASH_CODES_SQL
    + r"""
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.d0, b.d0)) + bit_count(xor(a.d1, b.d1))
          + bit_count(xor(a.d2, b.d2)) + bit_count(xor(a.d3, b.d3))
          + bit_count(xor(a.d4, b.d4)) + bit_count(xor(a.d5, b.d5))
          + bit_count(xor(a.d6, b.d6)) + bit_count(xor(a.d7, b.d7))
          AS INT) AS hamming
FROM codes a JOIN codes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.d0, b.d0)) + bit_count(xor(a.d1, b.d1))
    + bit_count(xor(a.d2, b.d2)) + bit_count(xor(a.d3, b.d3))
    + bit_count(xor(a.d4, b.d4)) + bit_count(xor(a.d5, b.d5))
    + bit_count(xor(a.d6, b.d6)) + bit_count(xor(a.d7, b.d7)) <= 6
""",
)
def image_phash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2, image near-dup (r5): pairs within Hamming distance 6 of the
    64-bit dHash — the LAION-style image dedup. The SPARK side never
    compares all pairs: candidates come from an equi-join on 8-bit
    bands (complete for distance <= 7 by pigeonhole — the multi-index
    Hamming guarantee, Norouzi et al. 2012), verified by 8 JVM-side
    XOR+popcounts. The ORACLE is the definitional all-pairs scan over
    the recomputed codes, so the driver hash proves the banded
    generator misses nothing and invents nothing. Fixture plants one
    near-pair per 50 documents (<= 2 bits apart); unplanted pairs sit
    near the 32-bit random distance."""
    from prom_etl_db_spark.functions import phash

    docs = _t(spark, sf_dir, "documents")
    return phash.phash_neardup_pairs(phash.image_dhash_codes(docs), 6)


@register(
    "video_y4m_bt601_decode",
    oracle="""
WITH px AS (
  SELECT d.doc_id, f.range AS f, r.range AS rr, c.range AS cc,
         (d.doc_id * 3 + f.range * 11 + r.range * 5 + c.range * 7) % 256
           AS y,
         (d.doc_id * 5 + f.range * 7
          + (r.range // 2) * 13 + (c.range // 2) * 3) % 256 AS u,
         (d.doc_id * 7 + f.range * 5
          + (r.range // 2) * 3 + (c.range // 2) * 13) % 256 AS v
  FROM documents d
  CROSS JOIN range(4) f CROSS JOIN range(8) r CROSS JOIN range(16) c
  WHERE f.range < 2 + d.doc_id % 3
), rgb AS (
  SELECT doc_id,
    greatest(least((298 * (y - 16) + 409 * (v - 128) + 128) // 256,
                   255), 0) AS r,
    greatest(least((298 * (y - 16) - 100 * (u - 128)
                    - 208 * (v - 128) + 128) // 256, 255), 0) AS g,
    greatest(least((298 * (y - 16) + 516 * (u - 128) + 128) // 256,
                   255), 0) AS b
  FROM px
)
SELECT doc_id AS media_id,
       CAST(2 + doc_id % 3 AS INT) AS n_frames,
       CAST(16 AS INT) AS width,
       CAST(8 AS INT) AS height,
       CAST(24 + doc_id % 6 AS INT) AS fps_num,
       CAST(1001 AS INT) AS fps_den,
       CAST(sum(r) AS BIGINT) AS rsum,
       CAST(sum(g) AS BIGINT) AS gsum,
       CAST(sum(b) AS BIGINT) AS bsum
FROM rgb GROUP BY doc_id
""",
)
def video_y4m_bt601_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 video, RAW interchange (r5): YUV4MPEG2 write → byte-level
    re-parse (tag grammar incl. the F<num>:<den> frame-rate field,
    FRAME markers, 4:2:0 plane slicing) → exact integer BT.601
    fixed-point RGB conversion with sample-and-hold chroma upsampling
    (`functions/video.py`). Raw video is lossless by definition, so the
    oracle recomputes the whole pixel path in integer SQL — including
    the clip((t+128)//256) form whose floor-vs-truncate divergence is
    neutralized by the clamp (negative pre-clip values clip to 0 under
    either semantics). Completes the video family: MJPEG-AVI (lossy
    codec-in-container), GIF (lossless LZW), Y4M (raw)."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.y4m_roundtrip_features(docs)


@register(
    "doc_nfc_normalize",
    oracle="""
WITH built AS (
  SELECT doc_id,
         text || ' ' ||
         CASE doc_id % 5
           WHEN 0 THEN chr(101) || chr(769)
           WHEN 1 THEN chr(8491)
           WHEN 2 THEN chr(100) || chr(803) || chr(775)
           WHEN 3 THEN chr(4370) || chr(4449) || chr(4523)
           ELSE chr(64257)
         END AS inp
  FROM documents
)
SELECT doc_id,
       CAST(length(inp) AS INT) AS n_cp_in,
       CAST(length(nfc_normalize(inp)) AS INT) AS n_cp_nfc,
       nfc_normalize(inp) != inp AS changed,
       nfc_normalize(inp) AS text_nfc
FROM built
""",
)
def doc_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (UAX #15 — r5): the canonical-
    composition pass text pipelines run before tokenization/dedup. The
    fixture corpus is ASCII (NFC-invariant), so the query plants five
    deterministic strata in-query (the C4 construction trick):
    combining-acute composition, the U+212B ANGSTROM singleton,
    canonical REORDER + compose (dot-below before dot-above), Hangul
    jamo → syllable composition, and the NFC-INVARIANT U+FB01 ligature
    (so `changed` splits both ways under the driver hash). Spark runs
    stdlib unicodedata in one Arrow batch; DuckDB runs utf8proc — two
    independent implementations of the UCD tables, so the hash match
    (which includes the full normalized TEXT) is real interop
    evidence. Verified: both agree on every stratum including
    reordering and Hangul (tests/test_nfc.py)."""
    docs = _t(spark, sf_dir, "documents")
    marker = F.element_at(
        F.array(
            F.lit("é"),
            F.lit("Å"),
            F.lit("ḍ̇"),
            F.lit("한"),
            F.lit("ﬁ"),
        ),
        (F.col("doc_id") % 5 + 1).cast("int"),
    )
    built = docs.select(
        "doc_id", F.concat(F.col("text"), F.lit(" "), marker).alias("text")
    )
    return text.nfc_normalize_features(built)




@register(
    "payload_lz4_roundtrip",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5
FROM documents
""",
)
def payload_lz4_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 codec (r6): the LZ4 block format — the data-lake stack's
    other workhorse codec (Parquet/Kafka/Spark io) — through pyarrow's
    ``lz4_raw`` (liblz4). Every document's UTF-8 bytes round-trip
    through compress→decompress with bit-identity asserted in-UDF; the
    emitted length+md5 are decode-derived so the closed-form oracle
    hash-checks the roundtrip. No decoder for outside LZ4 blocks exists
    (DIVERGENCES.md). mapInPandas, zero shuffle."""
    from prom_etl_db_spark.functions import compression

    docs = _t(spark, sf_dir, "documents")
    return compression.roundtrip_features(docs, "lz4_raw")


@register(
    "payload_zstd_roundtrip",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5
FROM documents
""",
)
def payload_zstd_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 codec (r7): zstd (RFC 8878) — the data-lake stack's DEFAULT
    codec (Parquet ZSTD pages, Kafka, Spark io). Each document's UTF-8
    bytes are compressed by libzstd (pyarrow's codec) and decoded by
    ``compression.zstd_decompress``, the engine's streaming decoder for
    outside zstd bytes, with bit-identity asserted in-UDF; the emitted
    length+md5 are decode-derived so the closed-form oracle hash-checks
    the roundtrip. Refusal gates: tests/test_zstd.py and
    tests/test_codecs.py. mapInPandas, zero shuffle."""
    from prom_etl_db_spark.functions import compression

    docs = _t(spark, sf_dir, "documents")
    return compression.roundtrip_features(docs, "zstd")


@register(
    "payload_zstd_encode",
    oracle="""
SELECT doc_id,
       CAST(2 * octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text || text) AS payload_md5
FROM documents
""",
)
def payload_zstd_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 codec (r8): the zstd ENCODE direction. Each document's
    DOUBLED UTF-8 bytes (doubling guarantees matches, so an encoding
    that fails to shrink FAILS in-UDF rather than under-compressing
    quietly) are compressed by libzstd (pyarrow) and decoded by
    ``compression.zstd_decompress`` with bit-identity asserted; the
    emitted length+md5 are decode-derived so the closed-form oracle
    hash-checks the doubled payload. mapInPandas, zero shuffle."""
    from prom_etl_db_spark.functions import compression

    docs = _t(spark, sf_dir, "documents")
    return compression.roundtrip_features(docs, "zstd", doubled=True)
