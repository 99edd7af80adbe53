"""DuckDB oracle SQL for the flagship extraction queries.

The driver hash-checks every ``queries()`` entry against an ANSI-SQL
oracle run by DuckDB on the same parquet tables. The extraction core is
a stateful FSM, but — as :mod:`..operators.native` proves — it
decomposes into window cumsums + ordered aggregation, all expressible
in DuckDB SQL. This module re-expresses that decomposition (same
grammar constants from :mod:`.anchors`, so the dialects cannot drift):

1. synthesize the post-header line stream of
   :func:`..sources.spans.exam_spans_from_documents` directly in SQL
   (everything before the first question anchor is provably dropped by
   the FSM's pre-amble skip, so header/cover lines need not be
   generated);
2. tokenize-equivalent noise filter (F2);
3. per-line anchor classification (W3 phase 1);
4. window-based segmentation + section assignment
   (mirrors ``operators/native.py:parse_native`` clause by clause);
5. ordered ``string_agg`` assembly + finalize rules (F8/F9, anomaly
   scoring) and the §1.4 canonical flatten.

Dialect notes (Java/Python regex ↔ RE2): DuckDB uses RE2, whose ``\\s``
is ASCII-only — safe here because the testdata document text is pure
ASCII (verified) and the synthesized lines are built from it;
``(?i)`` replaces Java's ``(?iU)`` (RE2 has no ``U`` flag and is
Unicode-native already).
"""

from __future__ import annotations

from . import anchors as A
from .hashing import md5_64_sql

# ── RE2 forms of the shared grammar ──────────────────────────────────────

R2_QUESTION = "(?i)" + A.QUESTION
R2_SOLO = "(?i)" + A.SOLO_QUESTION
R2_OPTION = A.OPTION
R2_ANSWER = "(?i)" + A.ANSWER
R2_EXPLANATION = "(?i)" + A.EXPLANATION
R2_HOTSPOT = "(?i)" + A.HOTSPOT
R2_COVER = A.COVER_NOISE
R2_NOISE_CI = "(?i)" + A.NOISE_CI
R2_NOISE_CS = A.NOISE_CS

_QNUM_CAP = A.QNUM_CAP


def _fsm_ctes(q: int = 8) -> str:
    """The shared WITH-chain: documents → classified, segmented lines.

    Produces CTE ``fsm`` with one row per surviving line and columns
    (doc_id, idx, kind, line, media, qn, is_q, okey, opt_valid,
    hot_valid, is_ans, is_exp, seg, sec, oi, frag).
    """
    pad_len = 64 * (q + 2)
    return f"""
docs AS (
    SELECT doc_id::VARCHAR AS doc_id,
           rpad(coalesce(text, ''), {pad_len}, 'lorem ipsum dolor sit amet ') AS padded,
           ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 99991 AS dnum
    FROM documents),
qrows AS (
    SELECT doc_id, dnum, n,
           trim(substr(padded, ((n % 40) * 13) + 1, 160))         AS body,
           trim(substr(padded, (((n + 1) % 40) * 13) + 1, 40))    AS oa,
           trim(substr(padded, (((n + 2) % 40) * 13) + 1, 40))    AS ob,
           trim(substr(padded, (((n + 3) % 40) * 13) + 1, 40))    AS oc,
           trim(substr(padded, (((n + 4) % 40) * 13) + 1, 40))    AS od,
           trim(substr(padded, (((n + 5) % 40) * 13) + 1, 120))   AS expl,
           (['A','B','C','D'])[((dnum + n) % 4) + 1]              AS letter,
           ((dnum + n) % 3) = 0                                   AS has_img
    FROM docs, (SELECT unnest(generate_series(1, {q})) AS n)),
rawlines0 AS (
    SELECT doc_id, n, unnest(list_filter([
        {{'k': 1, 'kind': 'text',  'line': 'Question: ' || n::VARCHAR, 'media': ''}},
        {{'k': 2, 'kind': 'text',  'line': body,         'media': ''}},
        {{'k': 3, 'kind': 'text',  'line': 'A. ' || oa,  'media': ''}},
        {{'k': 4, 'kind': 'text',  'line': 'B. ' || ob,  'media': ''}},
        {{'k': 5, 'kind': 'text',  'line': 'C. ' || oc,  'media': ''}},
        {{'k': 6, 'kind': 'text',  'line': 'D. ' || od,  'media': ''}},
        CASE WHEN has_img THEN
            {{'k': 7, 'kind': 'image', 'line': '',
              'media': 'img://' || doc_id || '/' || n::VARCHAR}} END,
        {{'k': 8, 'kind': 'text',  'line': 'Answer: ' || letter,      'media': ''}},
        {{'k': 9, 'kind': 'text',  'line': 'Explanation: ' || expl,   'media': ''}}
    ], x -> x IS NOT NULL)) AS u
    FROM qrows),
-- tokenize parity: trim/empty-drop (lines are born trimmed) + F2 noise
lines AS (
    SELECT doc_id, (n * 16 + u.k)::BIGINT AS idx,
           u.kind AS kind, u.line AS line, u.media AS media
    FROM rawlines0
    WHERE u.kind = 'image'
       OR (u.line <> ''
           AND NOT regexp_matches(u.line, '{R2_NOISE_CI}')
           AND NOT regexp_matches(u.line, '{R2_NOISE_CS}'))),
-- W3 phase 1: per-line classification (operators/native.py:50-73)
c1 AS (
    SELECT *,
           CASE WHEN kind = 'text'
                THEN coalesce(regexp_extract(line, '{R2_QUESTION}', 1), '')
                ELSE '' END AS qnum_s,
           kind = 'text' AND regexp_matches(line, '{R2_HOTSPOT}') AS hot_m,
           CASE WHEN kind = 'text'
                THEN upper(coalesce(regexp_extract(line, '{R2_OPTION}', 1), ''))
                ELSE '' END AS okey_raw,
           kind = 'text' AND regexp_matches(line, '{R2_ANSWER}') AS ans_m,
           kind = 'text' AND regexp_matches(line, '{R2_EXPLANATION}') AS exp_m,
           kind = 'text' AND regexp_matches(line, '{R2_SOLO}')
                AND strpos(line, ':') = 0 AS is_solo,
           kind = 'text' AND regexp_matches(line, '{R2_COVER}') AS is_cover
    FROM lines),
c2 AS (
    SELECT *,
           qnum_s <> '' AND NOT is_solo AS is_q,
           CASE WHEN qnum_s <> '' AND NOT is_solo THEN
               CASE WHEN length(regexp_replace(qnum_s, '^0+', '')) > 18
                    THEN {_QNUM_CAP}
                    ELSE qnum_s::BIGINT END END AS qn,
           qnum_s = '' AND NOT hot_m AND okey_raw <> '' AS is_opt_c,
           qnum_s = '' AND hot_m AS is_hot,
           qnum_s = '' AND NOT hot_m AND okey_raw = '' AND ans_m AS is_ans,
           qnum_s = '' AND NOT hot_m AND okey_raw = '' AND NOT ans_m
               AND exp_m AS is_exp
    FROM c1
    WHERE NOT (qnum_s <> '' AND is_solo)),   -- F10 solo artifacts
-- F11 pre-amble skip: first effective anchor = first non-cover q-anchor
c3 AS (
    SELECT *,
           min(CASE WHEN is_q AND NOT is_cover THEN idx END)
               OVER (PARTITION BY doc_id) AS first_eff
    FROM c2),
c4 AS (
    SELECT *,
           sum(is_q::INT) OVER (PARTITION BY doc_id ORDER BY idx
                                ROWS UNBOUNDED PRECEDING) AS seg
    FROM c3
    WHERE first_eff IS NOT NULL AND idx >= first_eff),
-- within-segment state cumsums (operators/native.py:99-126)
c5 AS (
    SELECT *,
           coalesce(sum((is_ans OR is_exp)::INT)
               OVER (PARTITION BY doc_id, seg ORDER BY idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS left_body
    FROM c4),
c6 AS (
    SELECT *, is_opt_c AND left_body = 0 AS opt_valid FROM c5),
c7 AS (
    SELECT *,
           coalesce(sum(opt_valid::INT)
               OVER (PARTITION BY doc_id, seg ORDER BY idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS prior_opts,
           sum(opt_valid::INT)
               OVER (PARTITION BY doc_id, seg ORDER BY idx
                     ROWS UNBOUNDED PRECEDING) AS oi
    FROM c6),
fsm AS (
    SELECT *,
           is_hot AND left_body = 0 AND prior_opts = 0 AS hot_valid,
           last_value(CASE WHEN is_q THEN 'question'
                           WHEN opt_valid THEN 'options'
                           WHEN is_ans THEN 'answer'
                           WHEN is_exp THEN 'explanation' END IGNORE NULLS)
               OVER (PARTITION BY doc_id, seg ORDER BY idx
                     ROWS UNBOUNDED PRECEDING) AS sec,
           CASE WHEN kind = 'image' THEN NULL
                WHEN is_q THEN trim(regexp_replace(line, '{R2_QUESTION}', ''))
                WHEN opt_valid THEN trim(regexp_replace(line, '{R2_OPTION}', ''))
                WHEN is_hot AND left_body = 0 AND prior_opts = 0 THEN NULL
                WHEN is_ans THEN trim(regexp_replace(line, '{R2_ANSWER}', ''))
                WHEN is_exp THEN trim(regexp_replace(line, '{R2_EXPLANATION}', ''))
                ELSE line END AS frag
    FROM c7),
-- per-question assembly (operators/native.py:155-256) + finalize
qagg AS (
    SELECT doc_id, seg,
           (seg - 1)::INT AS seq,
           max(CASE WHEN is_q THEN qn END) AS question_number,
           CASE WHEN bool_or(hot_valid) THEN 'hotspot' ELSE 'mcq' END
               AS question_type,
           coalesce(string_agg(CASE WHEN kind = 'text' AND sec = 'question'
                                    AND frag <> '' THEN frag END,
                               ' ' ORDER BY idx), '') AS question_text,
           coalesce(string_agg(CASE WHEN kind = 'text' AND sec = 'answer'
                                    AND frag <> '' THEN frag END,
                               ' ' ORDER BY idx), '') AS answer_text,
           coalesce(string_agg(CASE WHEN kind = 'text' AND sec = 'explanation'
                                    AND frag <> '' THEN frag END,
                               ' ' ORDER BY idx), '') AS explanation_raw,
           count(CASE WHEN kind = 'image' AND sec = 'question' THEN 1 END)::INT
               AS n_qimgs
    FROM fsm GROUP BY doc_id, seg),
questions AS (
    SELECT *,
           CASE WHEN trim(explanation_raw) <> ''
                     AND (regexp_matches(trim(explanation_raw), '{R2_NOISE_CI}')
                          OR regexp_matches(trim(explanation_raw), '{R2_NOISE_CS}'))
                THEN '' ELSE explanation_raw END AS explanation_text,
           least(100,
                 CASE WHEN trim(question_text) = '' THEN 80 ELSE 0 END
               + CASE WHEN question_type <> 'hotspot'
                          AND trim(answer_text) = '' THEN 60 ELSE 0 END
               + CASE WHEN trim(question_text) = '' AND n_qimgs > 0
                      THEN 30 ELSE 0 END)::INT AS anomaly_score
    FROM qagg)
"""


def extract_questions_sql(q: int = 8) -> str:
    return f"""WITH {_fsm_ctes(q)}
SELECT doc_id, seq, question_number, question_type,
       question_text, answer_text, anomaly_score
FROM questions"""


def extract_validation_sql(q: int = 8) -> str:
    return f"""WITH {_fsm_ctes(q)}
SELECT doc_id,
       count(*)::INT AS total_questions_detected,
       sum((trim(question_text) <> '' AND trim(answer_text) <> '')::INT)::INT
           AS structured_successfully,
       sum((trim(question_text) = '' AND n_qimgs > 0)::INT)::INT
           AS orphan_images,
       CASE WHEN count(*) > 0 THEN
           round(sum((trim(question_text) <> '' AND trim(answer_text) <> '')::INT)
                 * 100.0 / count(*), 2)
       ELSE 0.0 END AS success_rate
FROM questions GROUP BY doc_id"""


def extract_flat_spans_sql(q: int = 8) -> str:
    """§1.4 canonical flatten (operators/flatten.py), ordered per branch:
    question text → question images → per option "K. text" + images →
    answer text/images → explanation text/images; dense order index."""
    return f"""WITH {_fsm_ctes(q)},
optagg AS (
    SELECT doc_id, seg, oi,
           max(CASE WHEN opt_valid THEN okey_raw END) AS key,
           coalesce(string_agg(CASE WHEN kind = 'text' AND frag <> ''
                                    THEN frag END, ' ' ORDER BY idx), '')
               AS otext,
           count(CASE WHEN kind = 'image' THEN 1 END) AS n_imgs
    FROM fsm WHERE sec = 'options'
    GROUP BY doc_id, seg, oi),
-- F8 ghost-option filter
optkept AS (
    SELECT * FROM optagg WHERE NOT (trim(otext) = '' AND n_imgs = 0)),
branches AS (
    SELECT doc_id, seg, 0 AS r1, 0::BIGINT AS r2, 0::BIGINT AS r3,
           'question' AS section, 'text' AS kind,
           question_text AS text, '' AS media_ref
    FROM questions WHERE question_text <> ''
    UNION ALL
    SELECT doc_id, seg, 1, 0, idx, 'question', 'image', '', media
    FROM fsm WHERE kind = 'image' AND sec = 'question'
    UNION ALL
    SELECT doc_id, seg, 2, oi, 0, 'options', 'text',
           CASE WHEN otext <> '' THEN key || '. ' || otext
                ELSE key || '.' END, ''
    FROM optkept
    UNION ALL
    SELECT f.doc_id, f.seg, 2, f.oi, f.idx, 'options', 'image', '', f.media
    FROM fsm f JOIN optkept o
      ON f.doc_id = o.doc_id AND f.seg = o.seg AND f.oi = o.oi
    WHERE f.kind = 'image' AND f.sec = 'options'
    UNION ALL
    SELECT doc_id, seg, 3, 0, 0, 'answer', 'text', answer_text, ''
    FROM questions WHERE answer_text <> ''
    UNION ALL
    SELECT doc_id, seg, 4, 0, idx, 'answer', 'image', '', media
    FROM fsm WHERE kind = 'image' AND sec = 'answer'
    UNION ALL
    SELECT doc_id, seg, 5, 0, 0, 'explanation', 'text', explanation_text, ''
    FROM questions WHERE explanation_text <> ''
    UNION ALL
    SELECT doc_id, seg, 6, 0, idx, 'explanation', 'image', '', media
    FROM fsm WHERE kind = 'image' AND sec = 'explanation')
SELECT b.doc_id,
       q.seq,
       q.question_number,
       b.section, b.kind, b.text, b.media_ref,
       (row_number() OVER (PARTITION BY b.doc_id, b.seg
                           ORDER BY b.r1, b.r2, b.r3) - 1)::INT AS "order"
FROM branches b
JOIN questions q ON b.doc_id = q.doc_id AND b.seg = q.seg"""


# ═══ dedup / ANN oracles ═══════════════════════════════════════════════
# The Spark operators run with hasher=md5_64 in the driver queries, so
# every hash below is reproducible in DuckDB. Hyperplanes/centroid
# order are deterministic constants, embedded as SQL literals.

#: k-word shingles of a lowered text expr — parity with
#: operators/textstats.shingles (order irrelevant downstream: shingles
#: feed min / xor / set ops only).
_SHINGLES = """
    CASE WHEN len(toks) >= 3
         THEN list_distinct(list_transform(range(0, len(toks) - 2),
                            i -> array_to_string(toks[i+1:i+3], ' ')))
         ELSE [array_to_string(toks, ' ')] END
"""

#: HASH-shingles over a per-token hash array ``th`` — parity with the
#: round-6 operators/dedup.minhash_signatures: a shingle's base hash
#: combines the 3 consecutive token hashes through the md5 combiner
#: (decimal renderings joined with ':', "0:" seed prefix —
#: functions/hashing.md5_64_combine). Degenerate docs (<3 tokens) take
#: one shingle over all token hashes; array_to_string of the short
#: array matches concat_ws's null-skip on the Spark side.
_HASH_SHINGLES = (
    "\n    CASE WHEN len(th) >= 3\n"
    "         THEN list_distinct(list_transform(range(0, len(th) - 2),\n"
    "              i -> "
    + md5_64_sql(
        "th[i+1]::VARCHAR || ':' || th[i+2]::VARCHAR"
        " || ':' || th[i+3]::VARCHAR",
        0,
    )
    + "))\n         ELSE ["
    + md5_64_sql("array_to_string(th, ':')", 0)
    + "] END\n"
)

_TOKS_L = ("list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),"
           " x -> x <> '')")
_TOKS_RAW = ("list_filter(regexp_split_to_array(trim(text), '\\s+'),"
             " x -> x <> '')")


def dedup_minhash_sql(k: int = 32, bands: int = 16,
                      threshold: float = 0.5,
                      max_bucket: int = 4096) -> str:
    rpb = k // bands
    h_tok = md5_64_sql("t", 0)
    h_seed = md5_64_sql("h::VARCHAR", "j::VARCHAR")
    band_key = " || ':' || ".join(
        f"sig[b*{rpb}+{r}+1]::VARCHAR" for r in range(rpb)
    )
    h_band = md5_64_sql(band_key, 0)
    return f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text || ' trailing edit token' FROM documents),
th AS (
    SELECT doc_id, list_transform(toks, t -> {h_tok}) AS th
    FROM (SELECT doc_id, {_TOKS_L} AS toks FROM corpus)),
sh AS (
    SELECT doc_id, {_HASH_SHINGLES} AS bh FROM th),
sigs AS (
    SELECT doc_id,
           list_transform(range(0, {k}), j ->
               list_min(list_transform(bh, h -> {h_seed}))) AS sig
    FROM sh),
bkts AS (
    -- mirrors the operator's max_bucket skew guard (dedup.py): band
    -- buckets beyond the cap are dropped on BOTH sides
    SELECT doc_id, sig, b, {h_band} AS bucket
    FROM sigs, (SELECT unnest(range(0, {bands})) AS b)
    QUALIFY count(*) OVER (PARTITION BY b, {h_band}) <= {max_bucket}),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.sig AS sig_a, b.sig AS sig_b
    FROM bkts a JOIN bkts b
      ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       round(len(list_filter(range(1, {k}+1), p -> sig_a[p] = sig_b[p]))
             / {k}.0, 4) AS sig_similarity
FROM cand
WHERE round(len(list_filter(range(1, {k}+1), p -> sig_a[p] = sig_b[p]))
            / {k}.0, 4) >= {threshold}"""


def dedup_jaccard_sql(k: int = 32, bands: int = 16,
                      threshold: float = 0.5,
                      max_bucket: int = 4096) -> str:
    """ngram_jaccard (operators/dedup.py) over minhash-LSH candidate
    pairs: the full :func:`dedup_minhash_sql` query nests as the pair
    source, then each pair's exact 3-gram Jaccard is recomputed from
    the (deduplicated) shingle sets — |∩| / |∪|, rounded to 4."""
    inner = dedup_minhash_sql(k, bands, threshold, max_bucket)
    return f"""
WITH pairs AS ({inner}),
jsh AS (
    SELECT doc_id, {_SHINGLES} AS sh
    FROM (SELECT doc_id, {_TOKS_L} AS toks FROM (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text || ' trailing edit token'
        FROM documents)))
SELECT p.doc_a, p.doc_b,
       round(len(list_intersect(sa.sh, sb.sh))
             / greatest(len(list_distinct(sa.sh || sb.sh)), 1), 4)
           AS jaccard
FROM pairs p
JOIN jsh sa ON sa.doc_id = p.doc_a
JOIN jsh sb ON sb.doc_id = p.doc_b"""


def dedup_clusters_sql(k: int = 32, bands: int = 16) -> str:
    """minhash_dedup_clusters (operators/dedup.py): star edges to each
    band bucket's min doc_id, then pointer-jumping squarings
    (l_{i+1}(x) = l_i(l_i(x))) unrolled to 5 levels = chains of 2^5=32
    hops. The Spark side now iterates to the true fixpoint; squaring
    is idempotent once converged, so the unroll depth only needs to
    EXCEED the corpus's chain depth (bucket-star graphs at sf0.01
    converge in ≤3 squarings — 32 hops is a wide margin, and a deeper
    corpus would fail the gate loudly rather than silently agree)."""
    rpb = k // bands
    h_tok = md5_64_sql("t", 0)
    h_seed = md5_64_sql("h::VARCHAR", "j::VARCHAR")
    band_key = " || ':' || ".join(
        f"sig[b*{rpb}+{r}+1]::VARCHAR" for r in range(rpb)
    )
    h_band = md5_64_sql(band_key, 0)
    return f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text || ' trailing edit token' FROM documents),
th AS (
    SELECT doc_id, list_transform(toks, t -> {h_tok}) AS th
    FROM (SELECT doc_id, {_TOKS_L} AS toks FROM corpus)),
sh AS (
    SELECT doc_id, {_HASH_SHINGLES} AS bh FROM th),
sigs AS (
    SELECT doc_id,
           list_transform(range(0, {k}), j ->
               list_min(list_transform(bh, h -> {h_seed}))) AS sig
    FROM sh),
bkts AS (
    SELECT doc_id, b, {h_band} AS bucket
    FROM sigs, (SELECT unnest(range(0, {bands})) AS b)),
bmin AS (
    SELECT b, bucket, min(doc_id) AS bm
    FROM bkts GROUP BY b, bucket HAVING count(*) > 1),
l0 AS (
    SELECT k.doc_id, min(bm) AS rep
    FROM bkts k JOIN bmin USING (b, bucket) GROUP BY k.doc_id),
l1 AS (SELECT a.doc_id, b.rep FROM l0 a JOIN l0 b ON a.rep = b.doc_id),
l2 AS (SELECT a.doc_id, b.rep FROM l1 a JOIN l1 b ON a.rep = b.doc_id),
l3 AS (SELECT a.doc_id, b.rep FROM l2 a JOIN l2 b ON a.rep = b.doc_id),
l4 AS (SELECT a.doc_id, b.rep FROM l3 a JOIN l3 b ON a.rep = b.doc_id),
l5 AS (SELECT a.doc_id, b.rep FROM l4 a JOIN l4 b ON a.rep = b.doc_id)
SELECT doc_id, rep AS cluster_rep FROM l5"""


def media_features_sql(n: int = 64, dim: int = 16) -> str:
    """Multimodal feature extraction (operators/media.py): the
    synthetic media corpus is a pure function of its index, so the
    whole pipeline — payload synthesis, F4 size filter, sha256 digest,
    Shannon entropy, md5-derived feature grid — re-expresses in DuckDB
    over range(0, n). Digest is over the lowercase-hex encoding
    (digest_over="hex": DuckDB 1.0 sha256 only takes VARCHAR); entropy
    rounds via floor(x*1e6+0.5) on both sides (Python round() is
    banker's, DuckDB's is half-away — repeated-digest payloads land on
    exact dyadic entropies, so the tie rule genuinely fires)."""
    fcols = " || ',' || ".join(
        f"((('0x' || substr(md5('{d}:' || hx), 1, 15))::BIGINT"
        f" % 10000)::VARCHAR)"
        for d in range(dim)
    )
    return f"""
WITH idx AS (SELECT unnest(range(0, {n})) AS i),
m AS (
    SELECT i, 'img://syn/' || i AS media_ref,
           ['image','audio','video'][(i % 3) + 1] AS media_type,
           64 + i % 512 AS w, 48 + i % 256 AS h,
           unhex(repeat(sha256('media-' || i), 4 + i % 7)) AS payload
    FROM idx),
kept AS (
    SELECT media_ref, lower(hex(payload)) AS hx,
           octet_length(payload) AS n
    FROM m WHERE NOT (media_type = 'image' AND (w < 50 OR h < 50)))
SELECT media_ref, sha256(hx) AS sha256, n::INT AS n_bytes,
       floor((SELECT -sum((cnt/nn)*log2(cnt/nn))
              FROM (SELECT count(*)::DOUBLE AS cnt, n::DOUBLE AS nn
                    FROM unnest(list_transform(range(0, n),
                         j -> substring(hx, 2*j+1, 2))) AS t(bb)
                    GROUP BY nn, bb)) / 8.0 * 1000000 + 0.5) / 1000000
           AS entropy6,
       {fcols} AS feature_grid
FROM kept"""


def dedup_simhash_sql(max_hamming: int = 3, max_bucket: int = 4096) -> str:
    from ..operators.dedup import simhash_blocks

    blocks = simhash_blocks(max_hamming)
    pbits = 64 // blocks
    mask = (1 << pbits) - 1
    h0 = md5_64_sql("s", 0)
    return f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text || ' zz' FROM documents),
sh AS (
    SELECT doc_id, {_SHINGLES} AS sh
    FROM (SELECT doc_id, {_TOKS_L} AS toks FROM corpus)),
hs AS (
    SELECT doc_id, list_transform(sh, s -> {h0}) AS hashes FROM sh),
sigs AS (
    SELECT doc_id,
           list_aggregate(list_transform(range(0, 64), i ->
               CASE WHEN 2 * len(list_filter(hashes, h -> ((h >> i) & 1) = 1))
                        >= len(hashes)
                    THEN (CASE WHEN i = 63 THEN (-9223372036854775807 - 1)
                               ELSE (1::BIGINT << i) END)
                    ELSE 0::BIGINT END), 'sum')::BIGINT AS sig
    FROM hs),
keyed AS (
    SELECT doc_id, sig, i AS block, ((sig >> (i * {pbits})) & {mask}) AS prefix
    FROM sigs, (SELECT unnest(range(0, {blocks})) AS i)),
keyed_capped AS (
    -- mirrors simhash_near_dups' max_bucket skew guard
    SELECT doc_id, sig, block, prefix FROM (
        SELECT k.*, count(*) OVER (PARTITION BY block, prefix) AS _bn
        FROM keyed k)
    WHERE _bn <= {max_bucket}),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.sig, b.sig))::INT AS hamming
    FROM keyed_capped a JOIN keyed_capped b
      ON a.block = b.block AND a.prefix = b.prefix AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {max_hamming}"""


def text_profile_sql() -> str:
    from ..operators.textstats import STOPWORDS

    h0 = md5_64_sql("s", 0)
    hit_exprs = []
    structs = []
    for lang in sorted(STOPWORDS):
        words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        hit_exprs.append(
            f"len(list_filter(toks_l, t -> list_contains([{words}], t)))::INT"
            f" AS h_{lang}"
        )
        structs.append(f"{{'hits': h_{lang}, 'lang': '{lang}'}}")
    # argmax parity with textstats.lang_guess: array_max over
    # struct(hits, lang) = max hits, tie → lexicographically larger lang
    best = f"list_aggregate([{', '.join(structs)}], 'max')"
    return f"""
WITH s AS (
    SELECT doc_id, text, {_TOKS_RAW} AS toks_raw, {_TOKS_L} AS toks_l,
           {_SHINGLES.replace('toks', 'tokz')} AS sh
    FROM (SELECT *, {_TOKS_L} AS tokz FROM documents)),
m AS (
    SELECT doc_id, text, toks_raw, sh, {', '.join(hit_exprs)},
           length(text) AS n,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
           length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
           len(regexp_extract_all(text, '[.!?]')) AS n_marks
    FROM s)
SELECT doc_id,
       len(toks_raw)::BIGINT AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]{{1,4}}|\\d+|[^\\sA-Za-z\\d]'))::BIGINT
           AS n_subwords,
       length(text)::BIGINT AS n_chars,
       CASE WHEN ({best}).hits > 0 THEN ({best}).lang ELSE 'und' END
           AS lang_guess,
       greatest(0, least(100,
           (CASE WHEN n >= 200 THEN 40 WHEN n >= 50 THEN 25
                 WHEN n >= 10 THEN 10 ELSE 0 END)
         + (CASE WHEN n > 0 THEN CAST(floor(n_alpha * 30.0 / n) AS INT) ELSE 0 END)
         + (CASE WHEN n_marks > 0 THEN 15 ELSE 0 END)
         + (CASE WHEN len(toks_raw) >= 20 THEN 15
                 WHEN len(toks_raw) >= 5 THEN 8 ELSE 0 END)
         + (CASE WHEN n > 0 AND n_punct * 3 > n THEN -20 ELSE 0 END)
       ))::BIGINT AS quality,
       list_aggregate(list_transform(sh, s -> {h0}), 'bit_xor')::BIGINT
           AS fingerprint
FROM m"""


def rarity_sql(top_k: int = 200, scale: int = 1_000_000) -> str:
    """Twin of textstats.corpus_token_freq + rarity_scores (text_rarity
    driver query): capped unigram vocabulary (count desc, token asc),
    per-token contribution floor(scale/freq) with OOV = freq 1, integer
    mean per doc. All floor division — bit-stable across engines."""
    return f"""
WITH tk AS (
    SELECT doc_id, coalesce({_TOKS_L}, []) AS toks
    FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents)),
ex AS (
    SELECT doc_id, unnest(toks) AS token FROM tk),
freq AS (
    SELECT token, count(*)::BIGINT AS freq
    FROM ex GROUP BY token
    ORDER BY freq DESC, token LIMIT {top_k}),
scored AS (
    SELECT e.doc_id,
           sum(floor({scale} / coalesce(f.freq, 1)))::BIGINT AS raw
    FROM ex e LEFT JOIN freq f USING (token)
    GROUP BY e.doc_id)
SELECT tk.doc_id,
       len(tk.toks)::BIGINT AS n_tokens,
       (CASE WHEN len(tk.toks) > 0
             THEN floor(s.raw / len(tk.toks)) ELSE 0 END)::BIGINT
           AS rarity
FROM tk LEFT JOIN scored s USING (doc_id)"""


def corpus_report_sql() -> str:
    """Twin of the corpus_report driver query: per-source corpus
    health — doc/token counts, quality band, english fraction. All
    aggregates are exact integer sums (average = one double division
    at the end), so the hash check is bit-stable across engines."""
    return f"""
WITH q AS ({text_profile_sql()})
SELECT d.source AS source,
       count(*)::BIGINT AS n_docs,
       sum(q.n_tokens)::BIGINT AS tokens,
       round(sum(q.quality)::BIGINT::DOUBLE / count(*)::DOUBLE, 4)
           AS avg_quality,
       min(q.quality)::BIGINT AS min_quality,
       max(q.quality)::BIGINT AS max_quality,
       sum((q.lang_guess = 'en')::INT)::BIGINT AS n_en
FROM documents d JOIN q USING (doc_id)
GROUP BY d.source"""


def _plane_lit(plane: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in plane) + "]"


def _sig_expr(planes: list[list[float]], vcol: str, dim: int) -> str:
    terms = []
    for p, plane in enumerate(planes):
        dot = (f"list_sum(list_transform(range(1, {dim + 1}), "
               f"i -> {vcol}[i] * ({_plane_lit(plane)})[i]))")
        terms.append(
            f"(CASE WHEN {dot} >= 0 THEN {1 << p}::BIGINT ELSE 0::BIGINT END)"
        )
    return "(" + " + ".join(terms) + ")"


_COS = """
    CASE WHEN sqrt(list_sum(list_transform({a}, x -> x*x)))
            * sqrt(list_sum(list_transform({b}, x -> x*x))) > 0
         THEN list_sum(list_transform(range(1, {d1}), i -> {a}[i] * {b}[i]))
              / (sqrt(list_sum(list_transform({a}, x -> x*x)))
                 * sqrt(list_sum(list_transform({b}, x -> x*x))))
         ELSE -1.0 END
"""


def _cos(a: str, b: str, dim: int) -> str:
    return _COS.format(a=a, b=b, d1=dim + 1)


def dedup_embedding_sql(dim: int = 64, n_planes: int = 8,
                        threshold: float = 0.99) -> str:
    from ..operators.similarity import hyperplanes

    planes = hyperplanes(dim, n_planes)
    sig = _sig_expr(planes, "v", dim)
    flips = (f"list_distinct([sig] || list_transform(range(0, {n_planes}), "
             f"p -> xor(sig, (1::BIGINT << p))))")
    return f"""
WITH corpus AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 50),
vecs AS (
    SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM corpus),
sigs AS (SELECT vec_id, v, {sig} AS sig FROM vecs),
probes AS (
    SELECT vec_id, v, unnest({flips}) AS bucket FROM sigs),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
           a.v AS va, b.v AS vb
    FROM probes a JOIN sigs b
      ON a.bucket = b.sig AND a.vec_id < b.vec_id),
scored AS (
    SELECT vec_a, vec_b, round({_cos('va', 'vb', dim)}, 4) AS cosine
    FROM cand)
SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= {threshold}"""


def sim_lsh_topk_sql(dim: int = 64, n_planes: int = 8, k: int = 10) -> str:
    from ..operators.similarity import hyperplanes

    planes = hyperplanes(dim, n_planes)
    sig = _sig_expr(planes, "v", dim)
    flips = (f"list_distinct([qsig] || list_transform(range(0, {n_planes}), "
             f"p -> xor(qsig, (1::BIGINT << p))))")
    return f"""
WITH vecs AS (
    SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
    FROM embeddings),
sigs AS (SELECT vec_id, v, {sig} AS sig FROM vecs),
q AS (SELECT v AS qv, sig AS qsig FROM sigs WHERE vec_id = 0),
probes AS (SELECT qv, unnest({flips}) AS bucket FROM q),
cand AS (
    SELECT s.vec_id, s.v, p.qv
    FROM sigs s JOIN probes p ON s.sig = p.bucket
    WHERE s.vec_id <> 0),
scored AS (
    SELECT vec_id, {_cos('v', 'qv', dim)} AS raw FROM cand)
SELECT (row_number() OVER (ORDER BY raw DESC, vec_id))::INT AS rank,
       vec_id, round(raw, 4) AS score
FROM scored ORDER BY raw DESC, vec_id LIMIT {k}"""


def sim_lsh_topk_mp_sql(dim: int = 64, n_planes: int = 8,
                        n_tables: int = 2, probe_t: int = 4,
                        k: int = 10) -> str:
    """Multi-table + query-directed multiprobe LSH ANN
    (similarity.lsh_bucket_topk(n_tables, probe_t)). The Spark side
    enumerates probe buckets and equi-joins (the scale shape); the
    oracle uses the equivalent PREDICATE form — a vector is a candidate
    iff, in some table, its signature differs from the query's in ≤1
    bit (radius-1 probes) or only in bits belonging to the probe_t
    planes with smallest |query·plane| (the 2^t sign combos). Identical
    candidate sets by construction, and the exact rerank makes the
    result depend on nothing else."""
    from ..operators.similarity import _LSH_SEED, hyperplanes

    tables = [hyperplanes(dim, n_planes, _LSH_SEED + li)
              for li in range(n_tables)]
    sig_cols = ", ".join(
        f"{_sig_expr(tables[li], 'v', dim)} AS sig{li}"
        for li in range(n_tables)
    )
    mask_cols = []
    for li in range(n_tables):
        ds = ", ".join(
            "{'a': abs(list_sum(list_transform(range(1, %d), "
            "i -> qv[i] * (%s)[i]))), 'p': %d}"
            % (dim + 1, _plane_lit(plane), p)
            for p, plane in enumerate(tables[li])
        )
        mask_cols.append(
            f"list_sum(list_transform((list_sort([{ds}]))[1:{probe_t}], "
            f"x -> (1::BIGINT << x.p))) AS selmask{li}"
        )
    hit = " OR ".join(
        f"(bit_count(xor(s.sig{li}, m.qsig{li})) <= 1 "
        f"OR (xor(s.sig{li}, m.qsig{li}) & ~m.selmask{li}) = 0)"
        for li in range(n_tables)
    )
    qsig_cols = ", ".join(f"sig{li} AS qsig{li}" for li in range(n_tables))
    return f"""
WITH vecs AS (
    SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
    FROM embeddings),
sigs AS (SELECT vec_id, v, {sig_cols} FROM vecs),
q AS (SELECT v AS qv, {qsig_cols} FROM sigs WHERE vec_id = 0),
m AS (SELECT *, {', '.join(mask_cols)} FROM q),
cand AS (
    SELECT s.vec_id, s.v, m.qv
    FROM sigs s, m
    WHERE s.vec_id <> 0 AND ({hit})),
scored AS (
    SELECT vec_id, {_cos('v', 'qv', dim)} AS raw FROM cand)
SELECT (row_number() OVER (ORDER BY raw DESC, vec_id))::INT AS rank,
       vec_id, round(raw, 4) AS score
FROM scored ORDER BY raw DESC, vec_id LIMIT {k}"""


def sim_ivf_topk_sql(dim: int = 64, n_cells: int = 8, n_probe: int = 3,
                     k: int = 10) -> str:
    h = md5_64_sql("vec_id::VARCHAR", 0)
    d2 = (f"list_sum(list_transform(range(1, {dim + 1}), "
          f"i -> (v[i] - cv[i]) * (v[i] - cv[i])))")
    d2q = (f"list_sum(list_transform(range(1, {dim + 1}), "
           f"i -> (qq.v[i] - cv[i]) * (qq.v[i] - cv[i])))")
    return f"""
WITH vecs AS (
    SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
    FROM embeddings),
cents AS (
    SELECT v AS cv,
           (row_number() OVER (ORDER BY {h}, vec_id) - 1) AS cell
    FROM vecs ORDER BY {h}, vec_id LIMIT {n_cells}),
assign AS (
    SELECT vec_id, (min({{'d': {d2}, 'cell': cell}})).cell AS cell
    FROM vecs, cents GROUP BY vec_id),
q AS (SELECT v AS qv FROM vecs WHERE vec_id = 0),
probe AS (
    SELECT cell FROM cents, (SELECT v FROM vecs WHERE vec_id = 0) qq(v)
    ORDER BY {d2q}, cell LIMIT {n_probe}),
cand AS (
    SELECT a.vec_id, x.v, q.qv
    FROM assign a
    JOIN vecs x ON a.vec_id = x.vec_id
    CROSS JOIN q
    WHERE a.cell IN (SELECT cell FROM probe) AND a.vec_id <> 0),
scored AS (
    SELECT vec_id, {_cos('v', 'qv', dim)} AS raw FROM cand)
SELECT (row_number() OVER (ORDER BY raw DESC, vec_id))::INT AS rank,
       vec_id, round(raw, 4) AS score
FROM scored ORDER BY raw DESC, vec_id LIMIT {k}"""


def extract_rescan_sql(q: int = 8) -> str:
    """Raw-rescan diagnostics summary (operators/diagnostics.py): the
    reference's whole-document anchor rescan anti-joined against parsed
    output (background_worker.py:421-435, 503-525), summarized per doc.
    The rescan runs on the PRE-noise-filter line stream (rawlines0)."""
    raw_re = r"(?i)(?:^|\n)\s*Question\s*:?\s*(\d+)"
    return f"""WITH {_fsm_ctes(q)},
rawdet AS (
    SELECT DISTINCT doc_id,
           (CASE WHEN length(regexp_replace(m, '^0+', '')) > 18
                 THEN {_QNUM_CAP}
                 ELSE m::BIGINT END) AS qn
    FROM (SELECT doc_id, unnest(regexp_extract_all(u.line, '{raw_re}', 1)) AS m
          FROM rawlines0 WHERE u.kind = 'text')),
per AS (
    SELECT doc_id, qn, max(in_raw) AS in_raw, sum(np) AS np
    FROM (SELECT doc_id, qn, 1 AS in_raw, 0 AS np FROM rawdet
          UNION ALL
          SELECT doc_id, question_number AS qn, 0, 1 FROM questions)
    GROUP BY doc_id, qn),
agg AS (
    SELECT doc_id,
           sum(in_raw)::INT AS raw_detected_count,
           sum(np)::INT AS parsed_count,
           sum(CASE WHEN in_raw = 1 AND np = 0 THEN 1 ELSE 0 END)::INT
               AS missing_lost_count,
           sum(CASE WHEN np > 1 THEN 1 ELSE 0 END)::INT AS duplicate_count,
           min(qn) AS mn, max(qn) AS mx, count(DISTINCT qn) AS ncnt
    FROM per GROUP BY doc_id)
SELECT doc_id, raw_detected_count, parsed_count, missing_lost_count,
       duplicate_count,
       (CASE WHEN mx - mn <= 1000000 THEN (mx - mn + 1 - ncnt)
             ELSE 0 END)::INT AS sequence_gap_count
FROM agg"""


def envelope_sql(q: int = 8) -> str:
    """ParseResult envelope (operators/envelope.py): canonical span
    serialization rebuilt literally — INCLUDING the header spans the
    extraction oracles may skip (the hash covers the whole source)."""
    t = "'text' || chr(31) || {x} || chr(31)"
    img = "'image' || chr(31) || chr(31) || 'img://' || doc_id || '/' || n::VARCHAR"
    rs = " || chr(30) || "
    qstr = rs.join([
        t.format(x="'Question: ' || n::VARCHAR"),
        t.format(x="body"),
        t.format(x="'A. ' || oa"),
        t.format(x="'B. ' || ob"),
        t.format(x="'C. ' || oc"),
        t.format(x="'D. ' || od"),
    ]) + (
        f" || (CASE WHEN has_img THEN chr(30) || {img} ELSE '' END)"
    ) + rs.join([
        "",
        t.format(x="'Answer: ' || letter"),
        t.format(x="'Explanation: ' || expl"),
    ])
    header = rs.join([
        t.format(x=f"'Questions and Answers PDF' || chr(10) || '1/{q}'"),
        t.format(x="'EXAM-' || doc_id"),
        t.format(x="'https://example-dumps.invalid/set'"),
    ])
    return f"""WITH {_fsm_ctes(q)},
qstrs AS (
    SELECT doc_id, n, {qstr} AS qstr,
           (8 + has_img::INT) AS n_spans
    FROM qrows),
canon AS (
    SELECT doc_id,
           {header} || chr(30) || string_agg(qstr, chr(30) ORDER BY n)
               AS c,
           (3 + sum(n_spans))::INT AS raw_block_count
    FROM qstrs GROUP BY doc_id),
structured AS (
    SELECT doc_id,
           sum((trim(question_text) <> '' AND trim(answer_text) <> '')::INT)::INT
               AS structured_question_count
    FROM questions GROUP BY doc_id)
SELECT c.doc_id,
       substr(regexp_replace(c.doc_id, '[^A-Za-z0-9_-]', '_', 'g'), 1, 50)
           AS exam_id,
       sha256(c.c) AS source_sha256,
       strlen(c.c)::BIGINT AS source_bytes,
       c.raw_block_count,
       coalesce(s.structured_question_count, 0)::INT
           AS structured_question_count,
       '1.0.0' AS parser_version,
       NULL::VARCHAR AS parse_timestamp
FROM canon c LEFT JOIN structured s ON c.doc_id = s.doc_id"""


_SPDF_GEN = """
docs AS (SELECT unnest(range(0, {D})) AS d),
pages AS (SELECT d, unnest(range(1, 2 + d % 3 + 1)) AS p FROM docs),
tk AS (SELECT d, p, unnest(range(0, 3 + (d + p) % 4)) AS k FROM pages),
text_blocks AS (
    SELECT 'sdoc' || lpad(d::VARCHAR, 4, '0') AS doc_id, 'text' AS kind,
           'doc ' || d || ' page ' || p || ' block ' || k AS text,
           NULL::VARCHAR AS media_ref, p AS page,
           (2 * ((k*37 + p*11 + d*7) % 200))::DOUBLE AS x0,
           ((k*53 + p*17) % 600)::DOUBLE AS y0,
           (2 * ((k*37 + p*11 + d*7) % 200) + 50 + k)::DOUBLE AS x1,
           ((k*53 + p*17) % 600 + 12)::DOUBLE AS y1,
           NULL::INT AS img_w, NULL::INT AS img_h,
           NULL::VARCHAR AS img_hash
    FROM tk),
im AS (SELECT d, p, unnest(range(0,
           CASE WHEN d = 0 AND p = 1 THEN 8 ELSE (d + p) % 4 END)) AS m
       FROM pages),
img_blocks AS (
    SELECT 'sdoc' || lpad(d::VARCHAR, 4, '0') AS doc_id, 'image' AS kind,
           NULL::VARCHAR AS text,
           'im' || ((d*3 + p + m) % 5) AS media_ref, p AS page,
           (2 * ((m*41 + p*13 + d) % 200) + 1)::DOUBLE AS x0,
           ((m*59 + d*3 + p*29) % 700)::DOUBLE AS y0,
           (2 * ((m*41 + p*13 + d) % 200) + 1
            + CASE WHEN d = 0 AND p = 1 THEN 50 + m
                   WHEN (d + m) % 7 = 0 THEN 0
                   ELSE 60 + m END)::DOUBLE AS x1,
           ((m*59 + d*3 + p*29) % 700 + 25)::DOUBLE AS y1,
           (CASE WHEN d = 0 AND p = 1 THEN 60 + m
                 ELSE 30 + (d + m*29) % 60 END)::INT AS img_w,
           (CASE WHEN d = 0 AND p = 1 THEN 60
                 ELSE 55 + (m*13 + p) % 40 END)::INT AS img_h,
           md5('im' || ((d*3 + p + m) % 5)) AS img_hash
    FROM im),
logo_blocks AS (
    SELECT 'sdoc' || lpad(d::VARCHAR, 4, '0') AS doc_id, 'image' AS kind,
           NULL::VARCHAR AS text, 'logo' AS media_ref, p AS page,
           11.0 AS x0, (700 + 5*j)::DOUBLE AS y0,
           41.0 AS x1, (700 + 5*j + 20)::DOUBLE AS y1,
           60 AS img_w, 60 AS img_h, md5('logo') AS img_hash
    FROM (SELECT d, p, unnest(range(0, 2)) AS j FROM pages
          WHERE d % 5 = 1)),
blocks AS (
    SELECT * FROM text_blocks
    UNION ALL SELECT * FROM img_blocks
    UNION ALL SELECT * FROM logo_blocks)
"""


def pdf_scan_sql(n_docs: int = 40, cap: int = 6,
                 page_range: tuple[int, int] | None = None) -> str:
    """DuckDB replay of the full pdfscan pipeline
    (sources/pdfscan.py scan_blocks -> filter_blocks ->
    blocks_to_documents, reference block_extractor.py:57-357) over
    the deterministic corpus from sources/spdfgen.py: S1/S3 block
    synthesis, S2 page-range prune, F4/F6 size filters, F7 per-page
    cap, F5 logo running-count filter, S4/W1 per-page (y0, x0) sort
    with global dense re-index."""
    prune = (
        f"WHERE page BETWEEN {page_range[0]} AND {page_range[1]}"
        if page_range else ""
    )
    return f"""WITH {_SPDF_GEN.format(D=n_docs)},
pruned AS (SELECT * FROM blocks {prune}),
f46 AS (
    SELECT * FROM pruned
    WHERE kind <> 'image'
       OR ((x1 - x0) >= 1 AND (y1 - y0) >= 1
           AND img_w >= 50 AND img_h >= 50)),
f7 AS (
    SELECT * FROM (
        SELECT *, sum(CASE WHEN kind = 'image' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id, page) AS _pi
        FROM f46)
    WHERE kind <> 'image' OR _pi <= {cap}),
f5 AS (
    SELECT * FROM (
        SELECT *, CASE WHEN kind = 'image' THEN
                     row_number() OVER (PARTITION BY doc_id, img_hash
                                        ORDER BY page, y0, x0)
                   ELSE 0 END AS _nth
        FROM f7)
    WHERE kind <> 'image'
       OR NOT (_nth > 5 AND (x1 - x0) * (y1 - y0) < 10000))
SELECT doc_id,
       (row_number() OVER (PARTITION BY doc_id ORDER BY page, y0, x0)
        - 1)::INT AS "offset",
       kind, coalesce(text, '') AS text,
       coalesce(media_ref, '') AS media_ref, page::INT AS page
FROM f5"""


def a12_image_seen_sql(n_docs: int = 40) -> str:
    """A12 running image-hash occurrence count over the raw
    (unfiltered) scan — the reference's seen-hash counter
    (block_extractor.py:308-325) as a window function."""
    return f"""WITH {_SPDF_GEN.format(D=n_docs)}
SELECT doc_id, media_ref, page::INT AS page,
       row_number() OVER (PARTITION BY doc_id, img_hash
                          ORDER BY page, y0, x0)::INT AS nth
FROM blocks WHERE kind = 'image'"""


def extract_store_roundtrip_sql(q: int = 8) -> str:
    """Digest oracle for the S5/S6 sink round-trips (operators/
    store.py normalize+hydrate, reference database.py:60-127/745-803;
    JSON sink per engine.py stdout contract): flat question scalars
    plus an options digest (key~text~is_correct~n_images per option,
    J5 marking per state_machine.py:418-459 replayed in SQL) and
    per-section image counts. A sink that mangles any child row
    changes the digest."""
    return f"""WITH {_fsm_ctes(q)},
optagg AS (
    SELECT doc_id, seg, oi,
           max(CASE WHEN opt_valid THEN okey_raw END) AS key,
           coalesce(string_agg(CASE WHEN kind = 'text' AND frag <> ''
                                    THEN frag END, ' ' ORDER BY idx), '')
               AS otext,
           count(CASE WHEN kind = 'image' THEN 1 END) AS n_imgs
    FROM fsm WHERE sec = 'options'
    GROUP BY doc_id, seg, oi),
optkept AS (
    SELECT * FROM optagg WHERE NOT (trim(otext) = '' AND n_imgs = 0)),
okeys AS (
    SELECT doc_id, seg, list(upper(key) ORDER BY oi) AS valid,
           count(*) AS n_opts
    FROM optkept GROUP BY doc_id, seg),
qk AS (
    SELECT qq.*, coalesce(o.valid, []) AS valid,
           coalesce(o.n_opts, 0) AS n_opts,
           trim(qq.answer_text) <> '' AS has_answer,
           qq.question_type = 'hotspot' AS is_hot,
           CASE WHEN contains(qq.up, ',') THEN
                  list_distinct(flatten(list_transform(
                      string_split(qq.up, ','),
                      p -> regexp_extract_all(p, '\\b([A-Z])\\b', 1))))
                ELSE list_distinct(
                    regexp_extract_all(qq.up, '([A-Z])', 1)) END
               AS keys_raw
    FROM (SELECT *, upper(trim(answer_text)) AS up FROM questions) qq
    LEFT JOIN okeys o USING (doc_id, seg)),
fk AS (
    SELECT *, CASE WHEN n_opts > 0 THEN list_intersect(keys_raw, valid)
                   ELSE keys_raw END AS final_keys
    FROM qk),
optd AS (
    SELECT k.doc_id, k.seg,
           string_agg(
               o.key || '~' || o.otext || '~' ||
               (CASE WHEN k.is_hot OR NOT k.has_answer THEN false
                     ELSE list_contains(k.final_keys, upper(o.key))
                END)::VARCHAR
               || '~' || o.n_imgs,
               '|' ORDER BY o.oi) AS opts_digest
    FROM optkept o
    JOIN fk k ON o.doc_id = k.doc_id AND o.seg = k.seg
    GROUP BY k.doc_id, k.seg),
secimg AS (
    SELECT doc_id, seg,
           count(CASE WHEN sec = 'question' THEN 1 END)::INT AS n_qimg,
           count(CASE WHEN sec = 'answer' THEN 1 END)::INT AS n_aimg,
           count(CASE WHEN sec = 'explanation' THEN 1 END)::INT AS n_eimg
    FROM fsm WHERE kind = 'image' GROUP BY doc_id, seg)
SELECT f.doc_id, f.seq, f.question_number, f.question_type,
       f.question_text, f.answer_text, f.explanation_text,
       f.anomaly_score,
       coalesce(d.opts_digest, '') AS opts_digest,
       coalesce(s.n_qimg, 0)::INT AS n_qimg,
       coalesce(s.n_aimg, 0)::INT AS n_aimg,
       coalesce(s.n_eimg, 0)::INT AS n_eimg
FROM fk f
LEFT JOIN optd d ON f.doc_id = d.doc_id AND f.seg = d.seg
LEFT JOIN secimg s ON f.doc_id = s.doc_id AND f.seg = s.seg"""


def a9_page_metrics_sql(n_docs: int = 40) -> str:
    """A9 per-(doc, page) block counts (operators/validate.py
    page_metrics, reference background_worker.py:209-232) over the
    deterministic SPDF corpus."""
    return f"""WITH {_SPDF_GEN.format(D=n_docs)}
SELECT doc_id, page::INT AS page, count(*) AS n_blocks,
       sum((kind = 'image')::INT)::BIGINT AS n_images,
       sum((kind = 'text')::INT)::BIGINT AS n_text_lines
FROM blocks GROUP BY doc_id, page"""


# ── HTML main-content lane (operators/html.py) ─────────────────────────

def _html_ctes() -> str:
    """Shared WITH-chain: documents → synthesized HTML corpus →
    boilerplate strip → block nodes → kept spans.

    Byte-identical to operators/html.py::synth_html + html_to_spans:
    the regexes are the module constants (Java-regex ∩ RE2 common
    subset) and the corpus is a pure string function of
    (doc_id, text, source).  Produces CTE ``hspans`` with columns
    (doc_id, "offset", kind, text, media_ref).
    """
    from pdf_parser_python_spark.operators.html import (
        MIN_TEXT, RE_LINK, RE_NODE, RE_SRC, RE_STRIP,
    )

    return f"""
hdocs AS (
    SELECT doc_id, coalesce(text, '') AS t, coalesce(source, '') AS src,
           doc_id::VARCHAR AS d,
           least(6, 1 + floor(length(coalesce(text, '')) / 96))::INT AS np
    FROM documents),
hhtml AS (
    SELECT doc_id,
      '<html><head><title>Doc ' || d || '</title>'
      || '<style>.m0 sans</style>'
      || '<script>var x="</p>" trap(x)</script></head>'
      || '<body><nav><a href="/">home</a> <a href="/a">about</a>'
      || ' <a href="/c">contact</a></nav>'
      || '<header><h1>' || substr(t, 1, 24) || '</h1></header>'
      || '<!-- build 2026 -->'
      || '<h2>' || substr(t, 9, 24) || '</h2>'
      || array_to_string(list_transform(range(0, np), k ->
           (CASE WHEN (doc_id + k) % 4 = 0
                 THEN '<img src="img://' || d || '/' || k::VARCHAR || '">'
                 ELSE '' END)
           || (CASE WHEN k % 3 = 1
                 THEN '<p>' || substr(t, k * 64 + 1, 64)
                      || ' <a href="/x/' || d || '">' || substr(t, 1, 16)
                      || '</a></p>'
                 ELSE '<p>' || substr(t, k * 64 + 1, 64) || '</p>' END)), '')
      || '<div><a href="/t/1">tag one</a> <a href="/t/2">tag two</a></div>'
      || '<div>ok</div>'
      || '<footer>(c) 2026 ' || src || '</footer></body></html>' AS html
    FROM hdocs),
hclean AS (
    SELECT doc_id, regexp_replace(html, '{RE_STRIP}', '', 'g') AS clean
    FROM hhtml),
hnodes AS (
    SELECT doc_id,
           unnest(regexp_extract_all(clean, '{RE_NODE}', 0)) AS node,
           generate_subscripts(regexp_extract_all(clean, '{RE_NODE}', 0), 1)
               AS pos
    FROM hclean),
hfeat AS (
    SELECT doc_id, pos, node,
           node LIKE '<img%' AS is_media,
           trim(regexp_replace(regexp_replace(node, '<[^>]*>', ' ', 'g'),
                               '\\s+', ' ', 'g')) AS stripped,
           coalesce(length(array_to_string(
               regexp_extract_all(node, '{RE_LINK}', 1), '')), 0) AS link_len,
           coalesce(regexp_extract(node, '{RE_SRC}', 1), '') AS media_src
    FROM hnodes),
hkept AS (
    SELECT doc_id, pos,
           CASE WHEN is_media THEN 'media'
                WHEN node LIKE '<h%' THEN 'heading'
                ELSE 'text' END AS kind,
           CASE WHEN is_media THEN '' ELSE stripped END AS text,
           CASE WHEN is_media THEN media_src ELSE '' END AS media_ref
    FROM hfeat
    WHERE is_media
       OR (length(stripped) >= {MIN_TEXT}
           AND 2 * link_len <= length(stripped))),
hspans AS (
    SELECT doc_id,
           (row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1)::INT
               AS "offset",
           kind, text, media_ref
    FROM hkept)"""


def html_extract_sql() -> str:
    """Exploded HTML span rows (operators/html.py html_to_spans)."""
    return f"""WITH {_html_ctes()}
SELECT doc_id, "offset", kind, text, media_ref FROM hspans"""


def html_main_content_sql() -> str:
    """Per-doc main-content rollup (operators/html.py main_content)."""
    return f"""WITH {_html_ctes()}
SELECT doc_id,
       coalesce(string_agg(CASE WHEN kind <> 'media' THEN text END,
                           ' ' ORDER BY "offset"), '') AS main_text,
       length(coalesce(string_agg(
           CASE WHEN kind <> 'media' THEN text END,
           ' ' ORDER BY "offset"), ''))::BIGINT AS n_chars,
       sum((kind = 'text')::INT)::BIGINT AS n_text,
       sum((kind = 'heading')::INT)::BIGINT AS n_headings,
       sum((kind = 'media')::INT)::BIGINT AS n_media
FROM hspans GROUP BY doc_id"""


# ═══ repetition / decontamination oracles ═════════════════════════════
# Twins of operators/repetition.py and operators/contamination.py as
# run by the driver queries: pseudo-lines = 10-token chunks of the RAW
# token stream (the sf documents table has no newlines), n-grams over
# the LOWERED token stream, md5_64 gram hashes.

def repetition_sql(width: int = 10, n: int = 2) -> str:
    """Per-doc repetition profile (rep_profile driver query)."""
    return f"""
WITH t AS (
    SELECT doc_id, text,
           {_TOKS_RAW} AS rtoks,
           {_TOKS_L} AS ltoks
    FROM documents),
lines AS (
    SELECT doc_id, unnest(list_transform(
               range(0, cast(ceil(len(rtoks) / {width}.0) AS INT)),
               i -> array_to_string(rtoks[i*{width}+1:i*{width}+{width}], ' ')
           )) AS line
    FROM t WHERE len(rtoks) > 0),
lstats AS (
    SELECT doc_id,
           count(*) AS m,
           count(DISTINCT line) AS d,
           sum(len(line)) AS line_chars,
           sum(CASE WHEN cnt > 1 THEN len(line) ELSE 0 END) AS dup_chars
    FROM (SELECT doc_id, line,
                 count(*) OVER (PARTITION BY doc_id, line) AS cnt
          FROM lines)
    GROUP BY doc_id),
grams AS (
    SELECT doc_id, unnest(list_transform(
               range(0, len(ltoks) - {n - 1}),
               i -> array_to_string(ltoks[i+1:i+{n}], ' ')
           )) AS gram
    FROM t WHERE len(ltoks) >= {n}),
gcnt AS (
    SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY 1, 2),
gtop AS (
    SELECT doc_id, gram, cnt,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY cnt DESC, gram DESC) AS rn
    FROM gcnt),
gstats AS (
    SELECT doc_id, sum(cnt) AS g, count(*) AS gd FROM gcnt GROUP BY doc_id)
SELECT t.doc_id,
       coalesce(l.m, 0)::BIGINT AS n_lines,
       coalesce(round((l.m - l.d) / l.m, 4), 0.0) AS dup_line_frac,
       coalesce(CASE WHEN l.line_chars > 0
                     THEN round(l.dup_chars / l.line_chars, 4) END,
                0.0) AS dup_line_char_frac,
       coalesce(top.gram, '') AS top_ngram,
       coalesce(CASE WHEN len(t.text) > 0
                     THEN round(top.cnt * len(top.gram) / len(t.text), 4)
                END, 0.0) AS top_ngram_char_frac,
       coalesce(round((gs.g - gs.gd) / gs.g, 4), 0.0) AS dup_ngram_frac
FROM t
LEFT JOIN lstats l ON t.doc_id = l.doc_id
LEFT JOIN (SELECT doc_id, gram, cnt FROM gtop WHERE rn = 1) top
       ON t.doc_id = top.doc_id
LEFT JOIN gstats gs ON t.doc_id = gs.doc_id"""


#: benchmark synthesized from the corpus itself (every 7th doc's first
#: 12 raw tokens) — mirrors the decontam driver queries exactly.
_DECONTAM_CTES = """
lt AS (SELECT doc_id, {toks_l} AS ltoks FROM {corpus}),
blt AS (SELECT doc_id, {toks_raw} AS rtoks FROM {bench_src}),
bench AS (
    SELECT array_to_string(rtoks[1:12], ' ') AS text
    FROM blt WHERE doc_id % 7 = 0),
btoks AS (
    SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                       x -> x <> '') AS btk
    FROM bench),
bgrams AS (
    SELECT DISTINCT unnest(list_transform(
               range(0, len(btk) - {n1}),
               i -> array_to_string(btk[i+1:i+{n}], ' ')
           )) AS gram
    FROM btoks WHERE len(btk) >= {n}),
bhash AS (
    SELECT h, min(gram) AS gram
    FROM (SELECT {hash_g} AS h, gram FROM bgrams) GROUP BY h),
dgrams AS (
    SELECT DISTINCT doc_id, unnest(list_transform(
               range(0, len(ltoks) - {n1}),
               i -> array_to_string(ltoks[i+1:i+{n}], ' ')
           )) AS gram
    FROM lt WHERE len(ltoks) >= {n}),
dhash AS (SELECT doc_id, {hash_g} AS h FROM dgrams),
matched AS (
    SELECT d.doc_id, count(*) AS n_matched_grams,
           min(b.gram) AS sample_gram
    FROM dhash d JOIN bhash b USING (h)
    GROUP BY d.doc_id)"""


def _decontam_ctes(n: int = 8, corpus: str = "documents",
                   bench_src: str = "documents") -> str:
    """``corpus`` / ``bench_src`` may name CTEs so compositions
    (compose_e2e) can decontaminate a gated corpus against prompts
    carved from the raw one."""
    return _DECONTAM_CTES.format(
        toks_l=_TOKS_L, toks_raw=_TOKS_RAW, n=n, n1=n - 1,
        hash_g=md5_64_sql("gram"), corpus=corpus, bench_src=bench_src,
    )


def decontam_report_sql(n: int = 8) -> str:
    """Contaminated docs + matched-gram counts (decontam driver query)."""
    return f"""WITH {_decontam_ctes(n)}
SELECT doc_id, n_matched_grams::BIGINT AS n_matched_grams, sample_gram
FROM matched"""


def decontam_clean_sql(n: int = 8) -> str:
    """The clean corpus after decontamination (decontam_clean query)."""
    return f"""WITH {_decontam_ctes(n)}
SELECT d.doc_id, d.n_chars
FROM documents d
ANTI JOIN matched m ON d.doc_id = m.doc_id"""


# ═══ PII redaction oracle ═════════════════════════════════════════════

def pii_sql() -> str:
    """Twin of the pii_scrub driver query: PII synthesized from doc_id
    (the sf corpus has none), then operators/redact.py's counts +
    fixed-order redaction. Patterns are imported from the operator so
    the two sides cannot drift."""
    from ..operators.redact import PII_PATTERNS

    pats = {k: p for k, p, _ in PII_PATTERNS}
    toks = {k: t for k, _, t in PII_PATTERNS}
    red = "text"
    for k, p, t in PII_PATTERNS:
        red = f"regexp_replace({red}, '{p}', '{t}', 'g')"
    counts = ",\n       ".join(
        f"len(regexp_extract_all(text, '{pats[k]}'))::BIGINT AS n_{k}"
        for k in pats
    )
    return f"""
WITH pii AS (
    SELECT doc_id, text
        || CASE WHEN doc_id % 3 = 0
                THEN ' reach user' || doc_id || '@example.com'
                ELSE '' END
        || CASE WHEN doc_id % 5 = 0
                THEN ' call 555-123-' ||
                     lpad((doc_id % 10000)::VARCHAR, 4, '0')
                ELSE '' END
        || CASE WHEN doc_id % 7 = 0
                THEN ' host 10.0.' || (doc_id % 256)::VARCHAR || '.1'
                ELSE '' END
        || CASE WHEN doc_id % 11 = 0
                THEN ' ssn 123-45-' ||
                     lpad((doc_id % 10000)::VARCHAR, 4, '0')
                ELSE '' END AS text
    FROM documents)
SELECT doc_id,
       {counts},
       {red} AS redacted
FROM pii"""


def curation_sql(
    min_quality: int = 70,
    langs: tuple[str, ...] = ("en",),
    max_dup_line_frac: float = 0.2,
    max_top_ngram_char_frac: float = 0.12,
    min_tokens: int = 20,
) -> str:
    """Twin of operators/curation.py::curation_filter as run by the
    curation_gate driver query (chunked 10-token pseudo-lines, n=2)."""
    lang_list = ", ".join(f"'{x}'" for x in langs)
    return f"""
WITH rmet AS ({repetition_sql()}),
qmet AS ({text_profile_sql()}),
joined AS (
    SELECT r.doc_id, q.quality, q.lang_guess, q.n_tokens,
           r.dup_line_frac, r.top_ngram_char_frac
    FROM rmet r JOIN qmet q USING (doc_id)),
verdict AS (
    SELECT *,
           concat_ws(',',
               CASE WHEN quality < {min_quality} THEN 'low_quality' END,
               CASE WHEN lang_guess NOT IN ({lang_list}) THEN 'lang' END,
               CASE WHEN dup_line_frac > {max_dup_line_frac}
                    THEN 'dup_lines' END,
               CASE WHEN top_ngram_char_frac > {max_top_ngram_char_frac}
                    THEN 'repetitive_ngram' END,
               CASE WHEN n_tokens < {min_tokens} THEN 'too_short' END
           ) AS reasons
    FROM joined)
SELECT doc_id, quality, lang_guess, n_tokens, dup_line_frac,
       top_ngram_char_frac, reasons, (reasons = '') AS keep
FROM verdict"""


def paragraph_dedup_sql(width: int = 15,
                        source: str = "documents") -> str:
    """Twin of dedup.paragraph_dedup as run by the para_dedup driver
    query (pseudo-paragraphs = width-token chunks, md5 hashing,
    ' | ' output separator). The operator's min_by winner equals
    row_number()=1 under (doc_id, pos) order — keys are unique."""
    h = md5_64_sql("para")
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_RAW} AS toks FROM {source}),
p0 AS (
    SELECT doc_id, toks,
           unnest(range(0, cast(ceil(len(toks) / {width}.0) AS INT)))
               AS pos
    FROM t WHERE len(toks) > 0),
paras AS (
    SELECT doc_id, pos::INT AS pos,
           array_to_string(toks[pos*{width}+1:pos*{width}+{width}], ' ')
               AS para
    FROM p0),
ranked AS (
    SELECT doc_id, pos, para,
           row_number() OVER (PARTITION BY {h}
                              ORDER BY doc_id, pos) AS rn
    FROM paras),
rebuilt AS (
    SELECT doc_id, count(*) AS n_kept,
           string_agg(para, ' | ' ORDER BY pos) AS text_deduped
    FROM ranked WHERE rn = 1 GROUP BY doc_id)
SELECT t.doc_id,
       CASE WHEN len(toks) > 0
            THEN cast(ceil(len(toks) / {width}.0) AS BIGINT)
            ELSE 0 END AS n_paras,
       coalesce(r.n_kept, 0)::BIGINT AS n_kept,
       coalesce(r.text_deduped, '') AS text_deduped
FROM t LEFT JOIN rebuilt r USING (doc_id)"""


def top_ngrams_sql(n: int = 3, k: int = 100, min_count: int = 2) -> str:
    """Twin of repetition.corpus_top_ngrams (top_ngrams driver query)."""
    return f"""
WITH t AS (SELECT {_TOKS_L} AS ltoks FROM documents),
grams AS (
    SELECT unnest(list_transform(
               range(0, len(ltoks) - {n - 1}),
               i -> array_to_string(ltoks[i+1:i+{n}], ' ')
           )) AS gram
    FROM t WHERE len(ltoks) >= {n})
SELECT gram, count(*)::BIGINT AS cnt
FROM grams GROUP BY gram
HAVING count(*) >= {min_count}
ORDER BY cnt DESC, gram
LIMIT {k}"""


def packing_sql(seq_len: int = 2048, source: str = "documents",
                shuffle_seed: int | None = None,
                epoch: bool = False) -> str:
    """Twin of packing.pack_sequences (pack_assign driver query): the
    two-phase bucketed prefix sum equals one global ordered cumsum.
    ``source`` may name a CTE so compositions (compose_pack) can pack
    a filtered corpus; ``shuffle_seed`` mirrors the operator's seeded
    pseudo-random order (60-bit md5 of the full order identity —
    ``doc_id``, or ``doc_id:epoch`` when ``epoch=True`` so upsampled
    copies land at independent stream positions; (doc_id, epoch)
    tiebreak)."""
    ecol = ", epoch" if epoch else ""
    key = (
        "doc_id::VARCHAR || ':' || epoch::VARCHAR"
        if epoch else "doc_id::VARCHAR"
    )
    order = (
        f"doc_id{ecol}" if shuffle_seed is None
        else md5_64_sql(key, shuffle_seed) + f", doc_id{ecol}"
    )
    return f"""
WITH t AS (
    SELECT doc_id{ecol}, len({_TOKS_RAW})::BIGINT AS n_tokens
    FROM {source}),
c AS (
    SELECT doc_id{ecol}, n_tokens,
           (sum(n_tokens) OVER (ORDER BY {order}
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - n_tokens)::BIGINT AS start
    FROM t)
SELECT doc_id{ecol}, n_tokens, start,
       cast(floor(start / {seq_len}.0) AS BIGINT) AS pack_id,
       (start % {seq_len})::BIGINT AS pack_offset
FROM c"""


def pack_manifest_sql(seq_len: int = 2048,
                      source: str = "documents") -> str:
    """Twin of packing.pack_manifest over pack_sequences (pack_manifest
    driver query): per-pack ordered doc segments with straddle
    carry-over."""
    L = seq_len
    return f"""
WITH p AS ({packing_sql(seq_len, source)}),
e AS (
    SELECT doc_id, start, n_tokens,
           unnest(generate_series(cast(floor(start / {L}.0) AS BIGINT),
                  cast(floor((start + n_tokens - 1) / {L}.0) AS BIGINT)))
               AS pack_id
    FROM p WHERE n_tokens > 0),
s AS (
    SELECT pack_id, doc_id,
           (greatest(start, pack_id * {L}) - pack_id * {L})::BIGINT
               AS off,
           (least(start + n_tokens, (pack_id + 1) * {L})
            - greatest(start, pack_id * {L}))::BIGINT AS len
    FROM e)
SELECT pack_id,
       count(*)::BIGINT AS n_segments,
       sum(len)::BIGINT AS n_tokens,
       string_agg(doc_id || ':' || off || ':' || len, ','
                  ORDER BY off, doc_id) AS segments
FROM s GROUP BY pack_id"""


def exam_reassemble_sql(q: int = 8) -> str:
    """Twin of the exam_reassemble driver query — the e2e pipeline's
    stage-1 boundary: extraction FSM flat spans reassembled into one
    text per document in (seq, "order") sequence (bench.py
    _e2e_phase feeds exactly this text into the curation gate)."""
    return f"""
WITH flat AS ({extract_flat_spans_sql(q)})
SELECT doc_id,
       string_agg(text, ' ' ORDER BY seq, "order", text) AS text,
       count(*)::BIGINT AS n_text_spans
FROM flat WHERE kind = 'text' GROUP BY doc_id"""


def compose_pack_sql(seq_len: int = 512) -> str:
    """Twin of the compose_pack driver query: curation gate → keep
    semi-join → sequence packing, composed — the oracle nests the full
    curation verdict and packs only kept docs, value-checking the
    COMPOSITION (stage boundaries included), not just each stage."""
    return f"""
WITH g AS ({curation_sql()}),
kept AS (
    SELECT d.doc_id, d.text FROM documents d
    JOIN g USING (doc_id) WHERE g.keep)
SELECT * FROM ({packing_sql(seq_len, "kept")}) p"""


def compose_e2e_sql(
    weights: dict[str, float],
    target_tokens: int,
    seq_len: int = 256,
    n: int = 8,
    para_width: int = 15,
) -> str:
    """Twin of the compose_e2e driver query — the ENTIRE curation
    path composed and value-checked as one statement: curation gate →
    keep → 8-gram decontamination (prompts carved from the RAW corpus,
    matching bench.py's recipe) → corpus-wide paragraph dedup →
    mixture plan + md5-ppm sampling → epoch re-key → sequence packing.
    Every stage nests its standalone twin with the ``source``/
    ``corpus`` parameter, so a stage-twin fix propagates here
    automatically."""
    return f"""
WITH g AS ({curation_sql()}),
kept AS (
    SELECT d.doc_id, d.text, d.source FROM documents d
    JOIN g USING (doc_id) WHERE g.keep),
dmatched AS (
    SELECT doc_id FROM (
        WITH {_decontam_ctes(n, corpus="kept")}
        SELECT doc_id FROM matched) m),
clean AS (
    SELECT k.* FROM kept k ANTI JOIN dmatched USING (doc_id)),
dd AS (SELECT * FROM ({paragraph_dedup_sql(para_width, source="clean")}) x),
corp AS (
    SELECT dd.doc_id, dd.text_deduped AS text, c.source
    FROM dd JOIN clean c USING (doc_id) WHERE dd.n_kept > 0),
samp AS (
    SELECT * FROM (
        {mixture_sample_sql(weights, target_tokens, source="corp")}) s),
pk AS (
    -- guard the re-key multiplier headroom exactly like the Spark
    -- side (raise_error on epoch >= 1024): collided keys would make
    -- the packing order nondeterministic
    SELECT CASE WHEN s.epoch >= 1024 THEN error('epoch overflow')
                ELSE (s.doc_id * 1024 + s.epoch) END AS doc_id,
           c.text
    FROM samp s JOIN corp c USING (doc_id))
SELECT * FROM ({packing_sql(seq_len, source="pk")}) p"""


def pack_stats_sql(seq_len: int = 2048) -> str:
    return f"""
WITH p AS ({packing_sql(seq_len)})
SELECT pack_id, count(*)::BIGINT AS n_docs,
       sum(n_tokens)::BIGINT AS n_tokens,
       round(sum(n_tokens) / {seq_len}.0, 4) AS fill_ratio
FROM p GROUP BY pack_id"""


def mixture_plan_sql(weights: dict[str, float], target_tokens: int,
                     source: str = "documents") -> str:
    """Twin of mixture.mixture_plan (mix_plan driver query). The float
    arithmetic is written with the SAME association order as the Spark
    expression (weight * target / wsum) so floor() sees an identical
    IEEE double on both engines."""
    wsum = repr(float(sum(weights.values())))
    vals = ", ".join(
        f"('{s}', {float(w)!r})" for s, w in sorted(weights.items())
    )
    tgt = f"floor(w.weight * {target_tokens} / {wsum})::BIGINT"
    return f"""
WITH inv AS (
    SELECT source, count(*)::BIGINT AS n_docs,
           sum(len({_TOKS_RAW}))::BIGINT AS tokens_avail
    FROM {source} GROUP BY source),
w(source, weight) AS (VALUES {vals})
SELECT inv.source AS source, n_docs, tokens_avail,
       {tgt} AS tokens_target,
       CASE WHEN tokens_avail > 0
            THEN floor({tgt} / tokens_avail) ELSE 0 END::BIGINT
           AS n_epochs,
       CASE WHEN tokens_avail > 0
            THEN floor(({tgt} % tokens_avail)::DOUBLE
                       / tokens_avail::DOUBLE * 1000000)
            ELSE 0 END::BIGINT AS residual_ppm
FROM inv JOIN w USING (source)"""


def mixture_sample_sql(
    weights: dict[str, float], target_tokens: int, seed: int = 0,
    source: str = "documents",
) -> str:
    """Twin of mixture.mixture_sample (mix_sample driver query): the
    md5-ppm draw + epochs as a lateral generate_series."""
    u = md5_64_sql("d.doc_id::varchar", seed)
    return f"""
WITH plan AS ({mixture_plan_sql(weights, target_tokens, source)}),
base AS (
    SELECT d.doc_id, d.source,
           (p.n_epochs + CASE WHEN {u} % 1000000 < p.residual_ppm
                              THEN 1 ELSE 0 END) AS n_copies
    FROM {source} d JOIN plan p USING (source))
SELECT doc_id, source,
       unnest(generate_series(1, n_copies))::INT AS epoch
FROM base WHERE n_copies >= 1"""
