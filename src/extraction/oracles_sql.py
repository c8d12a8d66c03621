"""ANSI-SQL (DuckDB) oracles for every SQL-expressible query in
__spark_entry__.queries().

Each statement must reproduce the Spark query's values bit-exactly:
- integer/rational arithmetic wherever possible;
- md5-derived 32-bit hashes (portable across engines);
- doubles only via identical op sequences (element-wise double widening,
  sequential left-fold sums generated as explicit expression chains);
- DuckDB sum(BIGINT) returns HUGEINT → always cast back to BIGINT.

Spark queries these mirror live in __spark_entry__.py; shared helpers in
textops.py / dedup.py / similarity.py.
"""

from __future__ import annotations

from .corpus import _splitmix64
from .dedup import MINHASH_PRIME, _perm_coeffs
from .textops import STOPWORDS, TOKEN_PATTERN

SESSION_GAP_S = 21600
ALT_GAP_S = 43200

# ---------------------------------------------------------------------------
# shared CTE fragments
# ---------------------------------------------------------------------------

def _sessions_cte(gap: int, name: str = "sess") -> str:
    return f"""
ev_{name} AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events
), flagged_{name} AS (
  SELECT user_id, t,
         CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > {gap}
              THEN 1 ELSE 0 END AS newblk
  FROM ev_{name}
), {name} AS (
  SELECT user_id, t,
         CAST(SUM(newblk) OVER (PARTITION BY user_id ORDER BY t
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged_{name}
), blocks_{name} AS (
  SELECT user_id, session_id,
         MIN(t) AS t_min, MAX(t) AS t_max, COUNT(*) AS n_events
  FROM {name} GROUP BY user_id, session_id
)"""


_DOC_CLS_CTE = """
doc_cls AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(CASE WHEN n_chars % 7 >= GREATEST(n_chars*3 % 11, n_chars*5 % 13) THEN 0
                   WHEN n_chars*3 % 11 >= n_chars*5 % 13 THEN 1
                   ELSE 2 END AS BIGINT) AS cls
  FROM documents
)"""

# normalized text + word list (textops.normalize_text / words)
_NORM_WORDS_CTE = r"""
norm AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                             '\s+', ' ', 'g')) AS t
  FROM documents
)"""


def _stop_list(lang: str) -> str:
    return ", ".join(f"'{w}'" for w in STOPWORDS[lang])


def _sw_hits(lang: str, col: str = "text") -> str:
    return (
        f"CAST(len(list_filter(regexp_split_to_array(lower({col}), '\\s+'),"
        f" x -> x IN ({_stop_list(lang)}))) AS BIGINT)"
    )


def _cosine_expr(a: str, b: str, dims: int = 64) -> str:
    """Explicit per-dimension cosine — identical fold order to Spark's
    aggregate(zip_with(...)): 0.0 + t1 + t2 + ... left-to-right."""
    dot = " + ".join(
        f"CAST({a}[{d}] AS DOUBLE) * CAST({b}[{d}] AS DOUBLE)" for d in range(1, dims + 1)
    )
    na = " + ".join(
        f"CAST({a}[{d}] AS DOUBLE) * CAST({a}[{d}] AS DOUBLE)" for d in range(1, dims + 1)
    )
    nb = " + ".join(
        f"CAST({b}[{d}] AS DOUBLE) * CAST({b}[{d}] AS DOUBLE)" for d in range(1, dims + 1)
    )
    return f"((0.0 + {dot}) / (sqrt(0.0 + {na}) * sqrt(0.0 + {nb})))"


def _safe_cos(a: str, b: str, dims: int = 64) -> str:
    """Cosine with zero-norm vectors pinned to the -2.0 sentinel —
    bit-exact mirror of dedup.cosine_sim_safe (the IVF ranking rule).
    Guarding on the squared norms BEFORE dividing sidesteps both
    engines' division edge cases (Spark ANSI throws, DuckDB's total
    order sorts NaN above everything)."""
    cos = _cosine_expr(a, b, dims)
    na = " + ".join(
        f"CAST({a}[{d}] AS DOUBLE) * CAST({a}[{d}] AS DOUBLE)" for d in range(1, dims + 1)
    )
    nb = " + ".join(
        f"CAST({b}[{d}] AS DOUBLE) * CAST({b}[{d}] AS DOUBLE)" for d in range(1, dims + 1)
    )
    return (
        f"(CASE WHEN (0.0 + {na}) = 0.0 OR (0.0 + {nb}) = 0.0"
        f" THEN -2.0 ELSE {cos} END)"
    )


def _lsh_bucket_expr(vec: str, planes: int = 4, dims: int = 64) -> str:
    """Mirror of similarity.sign_lsh_bucket (same splitmix-derived signs)."""
    parts = []
    for p in range(planes):
        pattern = _splitmix64(0xC0FFEE + p)
        signs = [1.0 if (pattern >> (d % 64)) & 1 else -1.0 for d in range(dims)]
        dot = " + ".join(
            f"CAST({vec}[{d + 1}] AS DOUBLE) * {signs[d]}" for d in range(dims)
        )
        parts.append(f"CASE WHEN (0.0 + {dot}) > 0 THEN {1 << p} ELSE 0 END")
    return "CAST(" + " + ".join(parts) + " AS BIGINT)"


def _shingles_expr(k: int) -> str:
    """Mirror of textops.word_shingles over the normalized text column t."""
    concat = " || ' ' || ".join(f"ws[i+{j}]" for j in range(k))
    return (
        f"list_distinct(CASE WHEN len(ws) >= {k} "
        f"THEN list_transform(range(1, len(ws) - {k - 1} + 1), i -> {concat}) "
        f"ELSE [] END)"
    )


_WS_CTE = r"""
wsed AS (
  SELECT doc_id, list_filter(regexp_split_to_array(t, '\s+'), x -> x <> '') AS ws
  FROM norm
)"""


def _minhash_cols(perms: int) -> str:
    cols = []
    for i, (a, b) in enumerate(_perm_coeffs(perms)):
        cols.append(
            f"COALESCE(list_min(list_transform(hashes, "
            f"h -> ({a} * (h % {MINHASH_PRIME}) + {b}) % {MINHASH_PRIME})), "
            f"{MINHASH_PRIME}) AS mh{i}"
        )
    return ",\n         ".join(cols)


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

ORACLES: dict[str, str] = {}

ORACLES["g1_sessionize"] = f"""
WITH {_sessions_cte(SESSION_GAP_S)}
SELECT user_id, session_id, t_min, t_max, n_events FROM blocks_sess
"""

ORACLES["g1_session_window"] = f"""
WITH {_sessions_cte(SESSION_GAP_S)}
SELECT user_id, t_min, t_max, n_events FROM blocks_sess
"""

ORACLES["text_distinctive_terms"] = f"""
WITH {_NORM_WORDS_CTE},
wordlist AS (
  SELECT doc_id, unnest(string_split(t, ' ')) AS term
  FROM norm WHERE t <> ''
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM wordlist GROUP BY 1, 2
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), ranked AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC
         ) AS rk
  FROM tf JOIN dfreq USING (term)
)
SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, tf, df
FROM ranked WHERE rk <= 3
"""

# winnowing (k=3 shingles, window w=4): positional shingles (NO
# list_distinct — winnowing is position-sensitive), md5-prefix 32-bit
# hashes, per-window minima, sorted distinct sketch. Mirrors
# textops.winnow_sketch(k=3, w=4).
_WINNOW_CTE = r"""
sh AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 3
              THEN list_transform(range(1, len(ws) - 2 + 1),
                                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
              ELSE [] END AS shingles
  FROM wsed
), hs AS (
  SELECT doc_id,
         list_transform(shingles,
                        s -> CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)) AS h
  FROM sh
), mins AS (
  SELECT doc_id,
         list_sort(list_distinct(
           list_transform(range(1, len(h) - 3 + 1),
                          i -> list_min(list_slice(h, i, i + 3)))
         )) AS sketch
  FROM hs
)"""

ORACLES["text_winnow_sketch"] = f"""
WITH {_NORM_WORDS_CTE}, {_WS_CTE}, {_WINNOW_CTE}
SELECT doc_id, unnest(sketch) AS wh FROM mins
"""

# exact duplicated-substring runs (mirror of dedup.substring_run_pairs):
# positional k=4 shingles, occurrence-pruned [2,50], cross-doc equi-join,
# per-diagonal gap-group run lengths, pairs with max run >= 8 tokens
def _substring_runs_oracle(k: int = 4, min_tokens: int = 8, max_df: int = 50) -> str:
    concat = " || ' ' || ".join(f"ws[i+{j}]" for j in range(k))
    return f"""
WITH {_NORM_WORDS_CTE}, {_WS_CTE},
shp AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= {k}
              THEN list_transform(range(1, len(ws) - {k - 1} + 1), i -> {concat})
              ELSE [] END AS shingles
  FROM wsed
),
ex AS (
  SELECT doc_id AS id,
         unnest(range(1, len(shingles) + 1)) AS pos,
         unnest(shingles) AS s
  FROM shp
),
hx AS (
  SELECT id, pos, CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) AS h FROM ex
),
eligible AS (
  SELECT h FROM hx GROUP BY h HAVING COUNT(*) BETWEEN 2 AND {max_df}
),
pr AS (SELECT hx.* FROM hx JOIN eligible USING (h)),
m AS (
  SELECT a.id AS id_a, b.id AS id_b, a.pos AS pos_a, a.pos - b.pos AS diag
  FROM pr a JOIN pr b ON a.h = b.h AND a.id < b.id
),
r AS (
  SELECT id_a, id_b,
         pos_a - row_number() OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a)
           AS grp,
         diag
  FROM m
),
rl AS (
  SELECT id_a, id_b, COUNT(*) AS rl FROM r GROUP BY id_a, id_b, diag, grp
)
SELECT id_a, id_b,
       CAST(MAX(rl) + {k - 1} AS BIGINT) AS max_run_tokens,
       CAST(SUM(rl) AS BIGINT) AS matched_shingles
FROM rl GROUP BY id_a, id_b
HAVING MAX(rl) + {k - 1} >= {min_tokens}
"""


ORACLES["dedup_substring_runs"] = _substring_runs_oracle()

ORACLES["dedup_winnow_overlap"] = f"""
WITH {_NORM_WORDS_CTE}, {_WS_CTE}, {_WINNOW_CTE},
ex AS (
  SELECT doc_id AS id, unnest(sketch) AS wh FROM mins
), eligible AS (
  SELECT wh FROM ex GROUP BY wh HAVING COUNT(*) BETWEEN 2 AND 50
), pr AS (
  SELECT ex.id, ex.wh FROM ex JOIN eligible USING (wh)
)
SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS shared
FROM pr a JOIN pr b ON a.wh = b.wh AND a.id < b.id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""

ORACLES["events_tumbling_stats"] = """
SELECT CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS w_start,
       event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
FROM events
GROUP BY 1, 2
"""

ORACLES["g4_scale_clip"] = f"""
WITH {_sessions_cte(SESSION_GAP_S)}
SELECT user_id, session_id, t_min AS lo,
       CAST(LEAST(t_min + (t_max - t_min) * 3, t_min + 86400) AS BIGINT) AS hi_clipped,
       CAST(CASE WHEN t_min + (t_max - t_min) * 3 > t_min + 86400 THEN 1 ELSE 0 END AS BIGINT) AS was_clipped
FROM blocks_sess
"""

ORACLES["p4_small_filter"] = f"""
WITH {_sessions_cte(SESSION_GAP_S)}
SELECT user_id, session_id, n_events FROM blocks_sess WHERE n_events >= 5
"""

_TYPE_IV_CTE = """
iv AS (
  SELECT user_id, event_type,
         MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS lo,
         MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS hi
  FROM events GROUP BY user_id, event_type
)"""

ORACLES["p5_containment"] = f"""
WITH {_TYPE_IV_CTE[1:]}
SELECT a.user_id AS user_id, a.event_type AS inner_type, b.event_type AS outer_type
FROM iv a JOIN iv b
  ON a.user_id = b.user_id AND a.event_type <> b.event_type
 AND a.lo + 600 > b.lo AND a.hi < b.hi + 600
"""

ORACLES["p6_overlap_ratio"] = """
WITH iv AS (
  SELECT user_id, event_type,
         MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS lo,
         MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS hi
  FROM events GROUP BY user_id, event_type
)
SELECT a.user_id AS user_id, a.event_type AS type_a, b.event_type AS type_b,
       round(CAST(GREATEST(0, LEAST(a.hi, b.hi) - GREATEST(a.lo, b.lo)) AS DOUBLE)
             / CAST(LEAST(a.hi - a.lo, b.hi - b.lo) AS DOUBLE), 4) AS overlap_ratio
FROM iv a JOIN iv b
  ON a.user_id = b.user_id AND a.event_type < b.event_type
WHERE LEAST(a.hi - a.lo, b.hi - b.lo) > 0
"""

ORACLES["x4_find_separators"] = """
WITH prof AS (
  SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hour,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_line,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_para
  FROM events GROUP BY 1
), cand AS (
  SELECT hour, CASE WHEN n_line > n_para THEN n_line ELSE 0 END AS cand FROM prof
), win AS (
  SELECT hour, cand,
         MAX(cand) OVER (ORDER BY hour ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS localmax
  FROM cand
)
SELECT hour, CAST(cand AS BIGINT) AS strength FROM win WHERE cand > 0 AND cand = localmax
"""

ORACLES["q1_elimination"] = f"""
WITH {_TYPE_IV_CTE[1:]}
SELECT a.user_id AS user_id, a.event_type AS event_type, a.lo AS lo, a.hi AS hi
FROM iv a
WHERE a.hi - a.lo >= 86400
  AND NOT EXISTS (
    SELECT 1 FROM iv b
    WHERE a.user_id = b.user_id AND a.event_type <> b.event_type
      AND a.lo + 600 > b.lo AND a.hi < b.hi + 600
  )
"""

ORACLES["q2_interval_merge"] = f"""
WITH {_TYPE_IV_CTE[1:]},
flagged AS (
  SELECT user_id, event_type, lo, hi,
         CASE WHEN lo > MAX(hi) OVER (
                PARTITION BY user_id ORDER BY lo, hi, event_type
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 43200
              THEN 1 ELSE 0 END AS newgrp
  FROM iv
), grouped AS (
  SELECT user_id, lo, hi,
         CAST(SUM(newgrp) OVER (
           PARTITION BY user_id ORDER BY lo, hi, event_type
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS grp
  FROM flagged
)
SELECT user_id, grp, MIN(lo) AS m_lo, MAX(hi) AS m_hi, COUNT(*) AS n_merged
FROM grouped GROUP BY user_id, grp
"""

ORACLES["s3_parse_points"] = """
WITH pts AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         concat(CAST((n_chars * 1) % 97 AS VARCHAR), ',', CAST((n_chars * 2) % 89 AS VARCHAR), ' ',
                CAST((n_chars * 3) % 97 AS VARCHAR), ',', CAST((n_chars * 4) % 89 AS VARCHAR), ' ',
                CAST((n_chars * 5) % 97 AS VARCHAR), ',', CAST((n_chars * 6) % 89 AS VARCHAR)) AS s
  FROM documents
), parsed AS (
  SELECT doc_id,
         list_transform(string_split(s, ' '), p -> CAST(string_split(p, ',')[1] AS BIGINT)) AS xs,
         list_transform(string_split(s, ' '), p -> CAST(string_split(p, ',')[2] AS BIGINT)) AS ys
  FROM pts
)
SELECT doc_id,
       CAST(list_aggregate(xs, 'min') AS BIGINT) AS min_x,
       CAST(list_aggregate(xs, 'max') AS BIGINT) AS max_x,
       CAST(list_aggregate(ys, 'min') AS BIGINT) AS min_y,
       CAST(list_aggregate(ys, 'max') AS BIGINT) AS max_y
FROM parsed
"""

ORACLES["s5_frag_reassemble"] = """
WITH frags AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
         unnest(range(0, GREATEST(CAST(ceil(length(text)/7.0) AS BIGINT), 1))) AS frag_id
  FROM documents
), f2 AS (
  SELECT doc_id, frag_id, substring(text, CAST(frag_id*7+1 AS BIGINT), 7) AS chunk
  FROM frags
), asm AS (
  SELECT doc_id, string_agg(chunk, '' ORDER BY frag_id) AS text2, COUNT(*) AS n_frags
  FROM f2 GROUP BY doc_id
)
SELECT a.doc_id, CAST(a.n_frags AS BIGINT) AS n_frags,
       CAST(a.text2 = d0.text AS BIGINT) AS ok
FROM asm a JOIN (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents) d0 USING (doc_id)
"""

ORACLES["p7_same_size"] = f"""
WITH {_TYPE_IV_CTE[1:]}
SELECT a.user_id AS user_id, a.event_type AS type_a, b.event_type AS type_b,
       CAST(a.hi - a.lo + 1 AS BIGINT) AS len_a,
       CAST(b.hi - b.lo + 1 AS BIGINT) AS len_b
FROM iv a JOIN iv b
  ON a.user_id = b.user_id AND a.event_type < b.event_type
WHERE GREATEST(a.hi - a.lo + 1, b.hi - b.lo + 1) * 3
      < LEAST(a.hi - a.lo + 1, b.hi - b.lo + 1) * 5
"""

ORACLES["p2_argmax_class"] = f"""
WITH {_DOC_CLS_CTE}
SELECT cls, COUNT(*) AS n FROM doc_cls GROUP BY cls
"""

ORACLES["p3_class_strip"] = f"""
WITH {_DOC_CLS_CTE}
SELECT CAST(CASE WHEN cls = 2 THEN 0 ELSE cls END AS BIGINT) AS cls, COUNT(*) AS n
FROM doc_cls GROUP BY 1
"""

ORACLES["x2_profile"] = """
SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hour,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click
FROM events GROUP BY 1
"""

ORACLES["x3_nms"] = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
  FROM events GROUP BY 1
), win AS (
  SELECT day, n, MAX(n) OVER (ORDER BY day ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS localmax
  FROM daily
)
SELECT strftime(day, '%Y-%m-%d') AS day, n FROM win WHERE n = localmax
"""

ORACLES["x1_trimmed_mean"] = """
WITH ranked AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS cnt
  FROM documents
)
SELECT source, round(avg(n_chars), 4) AS avg_top_half
FROM ranked WHERE rn * 2 <= cnt GROUP BY source
"""

ORACLES["p9_regex_median"] = """
WITH k AS (
  SELECT event_type, TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
  FROM events
)
SELECT event_type, round(quantile_cont(k, 0.5), 4) AS median_k
FROM k WHERE k IS NOT NULL GROUP BY event_type
"""

ORACLES["e1_pixel_accuracy"] = f"""
WITH {_DOC_CLS_CTE}
SELECT round(avg(CASE WHEN cls = (CASE WHEN cls = 2 THEN 0 ELSE cls END)
                      THEN 1.0 ELSE 0.0 END), 6) AS accuracy
FROM doc_cls
"""

ORACLES["e3_symmetric_best_dice"] = f"""
WITH {_sessions_cte(SESSION_GAP_S, "gt")},
{_sessions_cte(ALT_GAP_S, "res")[1:]},
scored AS (
  SELECT g.user_id,
         g.session_id AS gid, r.session_id AS rid,
         2.0 * GREATEST(0, LEAST(g.t_max, r.t_max) - GREATEST(g.t_min, r.t_min) + 1)
             / ((g.t_max - g.t_min + 1) + (r.t_max - r.t_min + 1)) AS dice
  FROM blocks_gt g JOIN blocks_res r ON g.user_id = r.user_id
), bd_gt AS (
  SELECT user_id, avg(best) AS bd_gt FROM (
    SELECT user_id, gid, MAX(dice) AS best FROM scored GROUP BY user_id, gid
  ) GROUP BY user_id
), bd_res AS (
  SELECT user_id, avg(best) AS bd_res FROM (
    SELECT user_id, rid, MAX(dice) AS best FROM scored GROUP BY user_id, rid
  ) GROUP BY user_id
)
SELECT g.user_id AS user_id, round(LEAST(g.bd_gt, r.bd_res), 6) AS sbd
FROM bd_gt g JOIN bd_res r ON g.user_id = r.user_id
"""

ORACLES["t1_conditional_score"] = """
SELECT source,
       round(CASE WHEN SUM(n_chars) > 3000
                  THEN CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)
                  ELSE 0.0 END, 4) AS score
FROM documents GROUP BY source
"""

ORACLES["t2_normalize"] = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       round(CAST(n_chars AS DOUBLE) / CAST(SUM(n_chars) OVER (PARTITION BY source) AS DOUBLE), 6) AS weight
FROM documents
"""

ORACLES["t3_weighted_sample"] = """
WITH tot AS (
  SELECT CAST(SUM(n_chars + 1) AS HUGEINT) AS w_total,
         CAST(COUNT(*) AS HUGEINT) AS n_docs
  FROM documents
), scored AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(n_chars + 1 AS BIGINT) AS weight,
         CAST(CASE WHEN
           CAST(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 'w')), 1, 8)) AS BIGINT) AS HUGEINT)
             * w_total
           < CAST(300 AS HUGEINT) * CAST(n_chars + 1 AS HUGEINT) * CAST(4294967296 AS HUGEINT)
         THEN 1 ELSE 0 END AS BIGINT) AS in_weighted,
         CAST(CASE WHEN
           CAST(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 'u')), 1, 8)) AS BIGINT) AS HUGEINT)
             * n_docs
           < CAST(200 AS HUGEINT) * CAST(4294967296 AS HUGEINT)
         THEN 1 ELSE 0 END AS BIGINT) AS in_uniform
  FROM documents, tot
)
SELECT doc_id, weight, in_weighted, in_uniform
FROM scored WHERE in_weighted = 1 OR in_uniform = 1
"""

# data-mixture sampler: per-lang Poisson to a token budget (mirror of
# q_t7_mixture_sample; same u32 convention as t3, HUGEINT cross-multiply)
ORACLES["t7_mixture_sample"] = r"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
              AS BIGINT) AS nt
  FROM documents
), tot AS (
  SELECT lang, CAST(SUM(nt) AS HUGEINT) AS t_g FROM d GROUP BY lang
), w AS (
  SELECT * FROM (VALUES ('de', 1), ('en', 4), ('es', 1), ('fr', 1), ('zh', 1))
    AS t(lang, num)
)
SELECT d.doc_id AS doc_id, d.lang AS lang, d.nt AS nt
FROM d JOIN tot USING (lang) JOIN w USING (lang)
WHERE CAST(CAST(concat('0x', substr(md5(concat(CAST(d.doc_id AS VARCHAR), 'mix')), 1, 8)) AS BIGINT) AS HUGEINT)
        * t_g * CAST(8 AS HUGEINT)
      < CAST(8000 AS HUGEINT) * CAST(num AS HUGEINT) * CAST(4294967296 AS HUGEINT)
"""

ORACLES["t5_group_split"] = """
SELECT CAST(CAST(concat('0x', substr(md5(source), 1, 8)) AS BIGINT) % 3 AS BIGINT) AS split,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT source) AS n_sources
FROM documents GROUP BY 1
"""

ORACLES["t6_topk_per_group"] = """
WITH ranked AS (
  SELECT source, CAST(doc_id AS BIGINT) AS doc_id, n_chars,
         CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS rn
  FROM documents
)
SELECT source, doc_id, n_chars, rn FROM ranked WHERE rn <= 20
"""

ORACLES["e5_join_mean"] = """
WITH a AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, n_chars AS na FROM documents),
     b AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(length(text) AS BIGINT) AS nb FROM documents)
SELECT COUNT(*) AS n, round(avg(abs(a.na - b.nb)), 6) AS mean_abs_diff
FROM a JOIN b USING (doc_id)
"""

ORACLES["text_token_counts"] = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS BIGINT) AS n_bpe_tokens
FROM documents
"""

_QUALITY_EXPR = f"""CAST(floor(
         LEAST(length(text) / 5, 40.0)
         + LEAST({_sw_hits("en")} * 4, 30)
         + LEAST((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) * 3, 15)
         - LEAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')), 15)
         + 15.0
       ) AS BIGINT)"""

ORACLES["text_quality"] = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {_QUALITY_EXPR} AS quality
FROM documents
"""

# source-level quality screen (mirror of q_quality_source_screen): a
# source is dropped when more than 30% of its docs score quality < 50;
# survivors aggregate per lang
ORACLES["quality_source_screen"] = f"""
WITH q AS (
  SELECT source, lang, {_QUALITY_EXPR} AS q FROM documents
), s AS (
  SELECT source, COUNT(*) AS n_docs,
         SUM(CASE WHEN q < 50 THEN 1 ELSE 0 END) AS n_low
  FROM q GROUP BY source
), kept AS (
  SELECT source FROM s WHERE n_low * 10 <= n_docs * 3
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS kept_docs,
       CAST(COUNT(DISTINCT q.source) AS BIGINT) AS kept_sources,
       CAST(SUM(q.q) AS BIGINT) AS sum_q
FROM q JOIN kept ON q.source = kept.source
GROUP BY lang
"""

_LANGS = list(STOPWORDS)
_LANG_CASE = " ".join(
    f"WHEN h_{lang} = best AND best > 0 THEN '{lang}'" for lang in _LANGS
)
ORACLES["text_lang_id"] = f"""
WITH hits AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {", ".join(f'{_sw_hits(lang)} AS h_{lang}' for lang in _LANGS)}
  FROM documents
), best AS (
  SELECT doc_id, {", ".join(f"h_{lang}" for lang in _LANGS)},
         GREATEST({", ".join(f"h_{lang}" for lang in _LANGS)}) AS best
  FROM hits
)
SELECT doc_id, CASE {_LANG_CASE} ELSE 'und' END AS lang_pred FROM best
"""

ORACLES["text_fingerprint"] = r"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                               '\s+', ' ', 'g'))) AS fp
FROM documents
"""

def _simhash_votes(bits: int) -> str:
    return ",\n         ".join(
        f"CAST(SUM(CASE WHEN (wh >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS b{j}"
        for j in range(bits)
    )


def _simhash_sum(bits: int) -> str:
    return " + ".join(
        f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(bits)
    )


def _simhash_hex(bits: int) -> int:
    """Word-hash md5-prefix width — mirrors textops.simhash."""
    return (bits + 3) // 4


_SIMHASH_VOTES = _simhash_votes(32)
_SIMHASH_SUM = _simhash_sum(32)
ORACLES["text_simhash"] = f"""
WITH {_NORM_WORDS_CTE[1:]},
w AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(regexp_split_to_array(t, '\\s+'), x -> x <> ''))) AS word
  FROM norm
), h AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(word), 1, 8)) AS BIGINT) AS wh FROM w
), votes AS (
  SELECT doc_id, {_SIMHASH_VOTES}
  FROM h GROUP BY doc_id
)
SELECT n.doc_id AS doc_id,
       CAST(COALESCE({_SIMHASH_SUM}, 0) AS BIGINT) AS simhash
FROM norm n LEFT JOIN votes v ON n.doc_id = v.doc_id
"""

ORACLES["dedup_exact"] = r"""
WITH fp AS (
  SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                                 '\s+', ' ', 'g'))) AS fp
  FROM documents
)
SELECT COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_distinct,
       COUNT(*) - COUNT(DISTINCT fp) AS n_dupes
FROM fp
"""

# 16 perms in 4 bands of 4 rows over k=3 shingles (selective on this corpus).
# Docs with an empty shingle set are excluded before banding (mirror of the
# sentinel-bucket guard in dedup.minhash_lsh_candidates: empty-shingle docs
# all share the sentinel signature and can never be Jaccard near-dups).
_MH16 = _minhash_cols(16)
_LSH_JOINS = "\nUNION\n".join(
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b"
    " ON " + " AND ".join(f"a.mh{4 * b_ + r} = b.mh{4 * b_ + r}" for r in range(4))
    + " AND a.doc_id < b.doc_id"
    for b_ in range(4)
)
ORACLES["dedup_minhash_lsh"] = f"""
WITH {_NORM_WORDS_CTE[1:]},
{_WS_CTE[1:]},
sh AS (
  SELECT doc_id, {_shingles_expr(3)} AS shingles FROM wsed
), hashed AS (
  SELECT doc_id,
         list_transform(shingles, s -> CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)) AS hashes
  FROM sh
), sig AS (
  SELECT doc_id, {_MH16} FROM hashed WHERE len(hashes) > 0
), pairs AS (
{_LSH_JOINS}
)
SELECT COUNT(*) AS n_candidate_pairs FROM pairs
"""

# the all-pairs exact verifier is scale-bounded to a deterministic 10% sample
_NORM_WORDS_SAMPLE_CTE = r"""
norm AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                             '\s+', ' ', 'g')) AS t
  FROM documents
  WHERE CAST(doc_id AS BIGINT) % 10 = 0
)"""

ORACLES["dedup_ngram_jaccard"] = f"""
WITH {_NORM_WORDS_SAMPLE_CTE[1:]},
{_WS_CTE[1:]},
sh AS (
  SELECT doc_id, {_shingles_expr(1)} AS shingles FROM wsed
), sizes AS (
  SELECT doc_id, CAST(len(shingles) AS BIGINT) AS nsh FROM sh
), ex AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(inter AS BIGINT) AS inter, sa.nsh AS nsh_a, sb.nsh AS nsh_b
FROM inter JOIN sizes sa ON inter.id_a = sa.doc_id
           JOIN sizes sb ON inter.id_b = sb.doc_id
WHERE inter * 5 >= (sa.nsh + sb.nsh - inter) * 3
"""

ORACLES["dedup_lsh_verified"] = f"""
WITH {_NORM_WORDS_CTE[1:]},
{_WS_CTE[1:]},
sh AS (
  SELECT doc_id, {_shingles_expr(3)} AS shingles FROM wsed
), hashed AS (
  SELECT doc_id,
         list_transform(shingles, s -> CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)) AS hashes
  FROM sh
), sig AS (
  SELECT doc_id, {_MH16} FROM hashed WHERE len(hashes) > 0
), pairs AS (
{_LSH_JOINS}
), scored AS (
  SELECT p.id_a, p.id_b,
         CAST(len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS BIGINT) AS inter,
         CAST(len(sa.shingles) AS BIGINT) AS nsh_a,
         CAST(len(sb.shingles) AS BIGINT) AS nsh_b
  FROM pairs p
  JOIN sh sa ON p.id_a = sa.doc_id
  JOIN sh sb ON p.id_b = sb.doc_id
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       inter, nsh_a, nsh_b
FROM scored
WHERE inter * 2 >= (nsh_a + nsh_b - inter) * 1
"""

# incremental ingest: even doc_ids = existing corpus, odd = incoming
# batch; band joins are NEW x EXISTING (no a<b constraint — sides are
# disjoint), then the exact-Jaccard verify and a per-incoming-doc agg
_LSH_JOINS_INC = "\nUNION\n".join(
    "SELECT n.doc_id AS id_a, e.doc_id AS id_b FROM sig_n n JOIN sig_e e"
    " ON " + " AND ".join(f"n.mh{4 * b_ + r} = e.mh{4 * b_ + r}" for r in range(4))
    for b_ in range(4)
)
ORACLES["dedup_incremental"] = f"""
WITH {_NORM_WORDS_CTE[1:]},
{_WS_CTE[1:]},
sh AS (
  SELECT doc_id, {_shingles_expr(3)} AS shingles FROM wsed
), hashed AS (
  SELECT doc_id,
         list_transform(shingles, s -> CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)) AS hashes
  FROM sh
), sig AS (
  SELECT doc_id, {_MH16} FROM hashed WHERE len(hashes) > 0
), sig_n AS (
  SELECT * FROM sig WHERE doc_id % 2 = 1
), sig_e AS (
  SELECT * FROM sig WHERE doc_id % 2 = 0
), pairs AS (
{_LSH_JOINS_INC}
), scored AS (
  SELECT p.id_a, p.id_b,
         CAST(len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS BIGINT) AS inter,
         CAST(len(sa.shingles) AS BIGINT) AS nsh_a,
         CAST(len(sb.shingles) AS BIGINT) AS nsh_b
  FROM pairs p
  JOIN sh sa ON p.id_a = sa.doc_id
  JOIN sh sb ON p.id_b = sb.doc_id
)
SELECT CAST(id_a AS BIGINT) AS id,
       CAST(MIN(id_b) AS BIGINT) AS first_match,
       CAST(COUNT(*) AS BIGINT) AS n_matches
FROM scored
WHERE inter * 2 >= (nsh_a + nsh_b - inter) * 1
GROUP BY id_a
"""

# connected components over the verified near-dup pairs: min-label
# reachability via recursive CTE (the UNION dedups (id, comp) states, so
# the recursion enumerates each reachable label once and terminates);
# MIN over reachable labels == Spark's min-propagation fixpoint
# shared CTE chain: shingles -> minhash sig -> LSH pairs -> exact-Jaccard
# verify -> undirected edges -> recursive min-label reachability ("reach")
_CC_CTES = f"""WITH RECURSIVE {_NORM_WORDS_CTE[1:]},
{_WS_CTE[1:]},
sh AS (
  SELECT doc_id, {_shingles_expr(3)} AS shingles FROM wsed
), hashed AS (
  SELECT doc_id,
         list_transform(shingles, s -> CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)) AS hashes
  FROM sh
), sig AS (
  SELECT doc_id, {_MH16} FROM hashed WHERE len(hashes) > 0
), pairs AS (
{_LSH_JOINS}
), vpairs AS (
  SELECT p.id_a, p.id_b
  FROM pairs p
  JOIN sh sa ON p.id_a = sa.doc_id
  JOIN sh sb ON p.id_b = sb.doc_id
  WHERE len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) * 2
        >= len(sa.shingles) + len(sb.shingles)
           - len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x)))
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM vpairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM vpairs
), verts AS (
  SELECT DISTINCT src AS id FROM edges
), reach AS (
  SELECT id, id AS comp FROM verts
  UNION
  SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id
)"""

ORACLES["dedup_components"] = f"""
{_CC_CTES}
SELECT CAST(id AS BIGINT) AS id,
       CAST(MIN(comp) AS BIGINT) AS component,
       CAST(CASE WHEN MIN(comp) = id THEN 1 ELSE 0 END AS BIGINT) AS is_survivor
FROM reach GROUP BY id
"""

ORACLES["dedup_clean_corpus"] = f"""
{_CC_CTES},
drops AS (
  SELECT id FROM reach GROUP BY id HAVING MIN(comp) <> id
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                x -> x <> ''))) AS BIGINT) AS ws_tokens
FROM documents
WHERE doc_id NOT IN (SELECT id FROM drops)
GROUP BY lang
"""

# benchmark decontamination: the doc_id % 20 = 7 slice is the held-out
# eval set; a training doc is contaminated iff it shares any 3-word
# shingle with it (mirror of dedup.decontaminate_hits; word_shingles is
# distinct-within-doc so COUNT(*) after the join = distinct hit shingles)
ORACLES["dedup_decontaminate"] = f"""
WITH {_NORM_WORDS_CTE[1:]},
{_WS_CTE[1:]},
sh AS (
  SELECT doc_id, {_shingles_expr(3)} AS shingles FROM wsed
), bench AS (
  SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 20 = 7
), train AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE doc_id % 20 <> 7
)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
FROM train t JOIN bench b ON t.shingle = b.shingle
GROUP BY t.doc_id
"""

# planes=8 operating point + bucket-size evidence (the quadratic-bound
# numbers: bucket count, largest bucket, Σ nb·(nb−1)/2 candidate pairs)
ORACLES["dedup_embedding_cosine_p8"] = f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {_lsh_bucket_expr("embedding", planes=8)} AS bucket FROM embeddings
), np AS (
  SELECT COUNT(*) AS n_pairs
  FROM bucketed a JOIN bucketed b ON a.vec_id < b.vec_id AND a.bucket = b.bucket
  WHERE {_cosine_expr("a.embedding", "b.embedding")} >= 0.5
), bs AS (
  SELECT COUNT(*) AS n_buckets,
         CAST(MAX(nb) AS BIGINT) AS max_bucket,
         CAST(SUM(nb * (nb - 1) / 2) AS BIGINT) AS cand_pairs
  FROM (SELECT bucket, COUNT(*) AS nb FROM bucketed GROUP BY bucket)
)
SELECT np.n_pairs AS n_pairs, bs.n_buckets AS n_buckets,
       bs.max_bucket AS max_bucket, bs.cand_pairs AS cand_pairs
FROM np, bs
"""

ORACLES["ann_bruteforce_top1"] = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_cosine_expr("q.embedding", "c.embedding")} AS cos_sim
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 30
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(neighbor_id AS BIGINT) AS neighbor_id
FROM ranked WHERE rn = 1
"""

ORACLES["ann_lsh_buckets"] = f"""
SELECT {_lsh_bucket_expr("embedding")} AS bucket, COUNT(*) AS n
FROM embeddings GROUP BY 1
"""

# FNV-1a-style fold over the first 4096 payload bytes, bit-exact vs
# multimodal._decode_stub (hugeint arithmetic mod 2^64; the synthetic
# payload is utf-8 of ASCII-only text, so char codes == bytes). The seed
# 1469598103934665603 is a deterministic stub constant, NOT the real
# FNV-1a 64 offset basis (14695981039346656037) — see _decode_stub.
ORACLES["multimodal_features"] = """
WITH media AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_ref,
         CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
              THEN 'image/jpeg' ELSE 'audio/wav' END AS mime,
         text AS t
  FROM documents
), fnv AS (
  SELECT media_ref, mime, CAST(octet_length(encode(t)) AS BIGINT) AS n_bytes,
         CASE WHEN length(t) = 0 THEN CAST(0 AS HUGEINT) ELSE
           list_reduce(
             list_prepend(CAST(1469598103934665603 AS HUGEINT),
               list_transform(range(1, least(length(t), 4096) + 1),
                              i -> CAST(ascii(substr(t, CAST(i AS INT), 1)) AS HUGEINT))),
             (acc, c) -> (xor(acc, c) * 1099511628211) % CAST('18446744073709551616' AS HUGEINT))
         END AS h
  FROM media
)
SELECT media_ref, mime, n_bytes,
       CASE WHEN mime LIKE 'image/%' AND n_bytes > 0 THEN CAST(16 + h % 4096 AS INT) END AS width,
       CASE WHEN mime LIKE 'image/%' AND n_bytes > 0 THEN CAST(16 + (h // 4096) % 4096 AS INT) END AS height,
       CAST(h % CAST('4611686018427387904' AS HUGEINT) AS BIGINT) AS feature_hash
FROM fnv
"""

ORACLES["p1_normalize"] = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       round(CAST(n_chars AS DOUBLE) / 255.0, 6) AS norm_const,
       round(CAST(n_chars AS DOUBLE)
             / CAST(MAX(n_chars) OVER (PARTITION BY source) AS DOUBLE), 6) AS norm_max
FROM documents
"""

ORACLES["p8_extension_filter"] = """
WITH listing AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         concat('scan_', CAST(doc_id AS VARCHAR),
                CASE WHEN CAST(doc_id AS BIGINT) % 3 = 0 THEN '.jpg'
                     WHEN CAST(doc_id AS BIGINT) % 3 = 1 THEN '.xml'
                     ELSE '.txt' END) AS fname
  FROM documents
)
SELECT doc_id, fname FROM listing WHERE fname LIKE '%.jpg'
"""

# simhash banding: 4 chunks of 15 bits (60-bit hash, the widest
# portable-md5-int64 configuration); hamming <= 3 pairs must share a
# chunk (pigeonhole), so the 4-way UNION of chunk equi-joins is lossless
_SIMHASH_BITS = 60
_SIMHASH_CHUNK = _SIMHASH_BITS // 4
_SIMHASH_MASK = (1 << _SIMHASH_CHUNK) - 1
_SIMHASH_BAND_JOINS = "\nUNION\n".join(
    "SELECT a.id AS id_a, b.id AS id_b, a.sh AS sh_a, b.sh AS sh_b"
    " FROM sims a JOIN sims b"
    f" ON (a.sh >> {_SIMHASH_CHUNK * b_}) & {_SIMHASH_MASK}"
    f" = (b.sh >> {_SIMHASH_CHUNK * b_}) & {_SIMHASH_MASK} AND a.id < b.id"
    for b_ in range(4)
)

ORACLES["dedup_simhash_pairs"] = f"""
WITH docs2 AS (
  SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents
  UNION ALL
  SELECT CAST(doc_id AS BIGINT) + 1000000 AS id, text || ' perturbed' AS text
  FROM documents WHERE CAST(doc_id AS BIGINT) % 5 = 0
), norm AS (
  SELECT id, trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                                 '\\s+', ' ', 'g')) AS t
  FROM docs2
), w AS (
  SELECT id,
         unnest(list_distinct(list_filter(regexp_split_to_array(t, '\\s+'), x -> x <> ''))) AS word
  FROM norm
), h AS (
  SELECT id, CAST(concat('0x', substr(md5(word), 1, {_simhash_hex(_SIMHASH_BITS)})) AS BIGINT) AS wh FROM w
), votes AS (
  SELECT id, {_simhash_votes(_SIMHASH_BITS)}
  FROM h GROUP BY id
), sims AS (
  -- inner (not left) over votes: docs with zero words never reach
  -- banding — mirror of simhash_near_pairs' sentinel guard
  SELECT id, CAST({_simhash_sum(_SIMHASH_BITS)} AS BIGINT) AS sh FROM votes
), pairs AS (
{_SIMHASH_BAND_JOINS}
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
FROM pairs
WHERE bit_count(xor(sh_a, sh_b)) <= 3
"""

ORACLES["dedup_tiered"] = f"""
WITH {_NORM_WORDS_CTE[1:]},
{_WS_CTE[1:]},
sh AS (
  SELECT doc_id, {_shingles_expr(3)} AS shingles FROM wsed
), hashed AS (
  SELECT doc_id,
         list_transform(shingles, s -> CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)) AS hashes
  FROM sh
), sig AS (
  SELECT doc_id, {_MH16} FROM hashed WHERE len(hashes) > 0
), mhpairs AS (
{_LSH_JOINS}
), w AS (
  -- shingle-simhash tier: votes drawn from the SAME k=3 shingles the
  -- minhash tier and the verifier use (mirrors shingle_k=3 in the entry)
  SELECT doc_id AS id, unnest(list_distinct(shingles)) AS word FROM sh
), h AS (
  SELECT id, CAST(concat('0x', substr(md5(word), 1, {_simhash_hex(_SIMHASH_BITS)})) AS BIGINT) AS wh FROM w
), votes AS (
  SELECT id, {_simhash_votes(_SIMHASH_BITS)}
  FROM h GROUP BY id
), sims AS (
  SELECT id, CAST({_simhash_sum(_SIMHASH_BITS)} AS BIGINT) AS sh FROM votes
), spairs AS (
{_SIMHASH_BAND_JOINS}
), tier_sim AS (
  SELECT id_a, id_b FROM spairs WHERE bit_count(xor(sh_a, sh_b)) <= 3
), cand AS (
  SELECT id_a, id_b FROM tier_sim UNION SELECT id_a, id_b FROM mhpairs
), ver AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN sh sa ON c.id_a = sa.doc_id JOIN sh sb ON c.id_b = sb.doc_id
  WHERE len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) * 2
        >= len(sa.shingles) + len(sb.shingles)
           - len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x)))
)
SELECT (SELECT COUNT(*) FROM tier_sim) AS n_simhash,
       (SELECT COUNT(*) FROM mhpairs) AS n_minhash,
       (SELECT COUNT(*) FROM cand) AS n_candidates,
       (SELECT COUNT(*) FROM ver) AS n_verified
"""

# join-form IVF at 64 centroids (the Spark-side choice — centroids as
# broadcast DATA vs plan literals — is invisible to SQL, which is
# exactly the contract)
ORACLES["ann_ivf_join_top1"] = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 64
), cross_sc AS (
  -- cosine materialized ONCE per (vector, centroid) before ranking: at
  -- 64 centroids the inline-in-ORDER-BY form re-evaluates a ~17 KB
  -- expression inside the window sort and has flaked OOM under a
  -- memory-pressured comparator process
  SELECT e.vec_id, c.cid, {_safe_cos("e.embedding", "c.cv")} AS sc
  FROM embeddings e CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, lst FROM (
    SELECT vec_id, cid AS lst,
           row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, cid ASC) AS rn
    FROM cross_sc
  ) WHERE rn = 1
), listed AS (
  SELECT e.vec_id, e.embedding, a.lst FROM embeddings e JOIN assigned a USING (vec_id)
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_safe_cos("q.embedding", "c.embedding")} AS cos_sim
  FROM listed q JOIN listed c ON q.lst = c.lst AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 30
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(neighbor_id AS BIGINT) AS neighbor_id
FROM ranked WHERE rn = 1
"""

ORACLES["ann_recall_at_1"] = f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {_lsh_bucket_expr("embedding")} AS bucket FROM embeddings
), bf AS (
  SELECT query_id, neighbor_id AS bf_nid FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {_cosine_expr("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rn
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 30
  ) WHERE rn = 1
), lsh AS (
  SELECT query_id, neighbor_id AS lsh_nid FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {_cosine_expr("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rn
    FROM bucketed q JOIN bucketed c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
    WHERE q.vec_id < 30
  ) WHERE rn = 1
), mp AS (
  SELECT query_id, neighbor_id AS mp_nid FROM (
    SELECT p.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY p.query_id
             ORDER BY {_cosine_expr("p.qv", "c.embedding")} DESC, c.vec_id ASC) AS rn
    FROM (
      SELECT vec_id AS query_id, embedding AS qv,
             unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4), xor(bucket, 8)]) AS probe
      FROM bucketed WHERE vec_id < 30
    ) p JOIN bucketed c ON p.probe = c.bucket AND p.query_id <> c.vec_id
  ) WHERE rn = 1
)
SELECT COUNT(*) AS n_queries,
       CAST(SUM(CASE WHEN lsh.lsh_nid = bf.bf_nid THEN 1 ELSE 0 END) AS BIGINT) AS lsh_hits,
       CAST(SUM(CASE WHEN mp.mp_nid = bf.bf_nid THEN 1 ELSE 0 END) AS BIGINT) AS multiprobe_hits
FROM bf LEFT JOIN lsh USING (query_id) LEFT JOIN mp USING (query_id)
"""

ORACLES["bucketed_join_stats"] = """
SELECT d.lang AS lang, e.label AS label,
       COUNT(*) AS n,
       CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
GROUP BY 1, 2
"""

ORACLES["text_pii_redact"] = r"""
WITH inj AS (
  SELECT lang,
         text || CASE
           WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
           WHEN doc_id % 3 = 1 THEN ' node 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR)
           ELSE ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         END AS t
  FROM documents
), scored AS (
  SELECT lang,
         len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
         len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS ni,
         len(regexp_extract_all(t, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS np,
         length(t) - length(
           regexp_replace(
             regexp_replace(
               regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
             '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g')
         ) AS delta
  FROM inj
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(ne) AS BIGINT) AS emails,
       CAST(SUM(ni) AS BIGINT) AS ips,
       CAST(SUM(np) AS BIGINT) AS phones,
       CAST(SUM(delta) AS BIGINT) AS chars_redacted_delta
FROM scored GROUP BY 1
"""

ORACLES["text_top_ngrams"] = r"""
WITH w AS (
  SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
  FROM documents
), b AS (
  SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])) AS ngram
  FROM w
)
SELECT ngram, COUNT(*) AS n
FROM b GROUP BY 1
ORDER BY n DESC, ngram ASC LIMIT 20
"""

# OOV rate vs the corpus-derived top-16 vocab (mirror of
# q_text_oov_rate; same normalized word stream, same deterministic
# count-desc/word-asc vocab tie-break)
ORACLES["text_oov_rate"] = r"""
WITH tok AS (
  SELECT lang,
         unnest(list_filter(regexp_split_to_array(
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                               '\s+', ' ', 'g')), '\s+'), x -> x <> '')) AS w
  FROM documents
), vocab AS (
  SELECT w FROM (
    SELECT w, COUNT(*) AS n FROM tok GROUP BY w ORDER BY n DESC, w ASC LIMIT 16
  )
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS tokens,
       CAST(SUM(CASE WHEN w NOT IN (SELECT w FROM vocab) THEN 1 ELSE 0 END)
            AS BIGINT) AS oov_tokens
FROM tok GROUP BY lang
"""

ORACLES["text_repetition"] = r"""
WITH w AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
  FROM documents
), ex AS (
  SELECT doc_id, unnest(ws) AS word FROM w
), wc AS (
  SELECT doc_id, word, COUNT(*) AS c FROM ex GROUP BY 1, 2
), per AS (
  SELECT doc_id, SUM(c) AS nw, COUNT(*) AS nd, MAX(c) AS mc
  FROM wc GROUP BY 1
)
SELECT w.lang AS lang,
       COUNT(*) AS n_docs,
       CAST(SUM(COALESCE(per.nw, 0)) AS BIGINT) AS sum_words,
       CAST(SUM(COALESCE(per.nd, 0)) AS BIGINT) AS sum_distinct_words,
       CAST(SUM(COALESCE(per.mc, 0)) AS BIGINT) AS sum_mode_count
FROM w LEFT JOIN per USING (doc_id)
GROUP BY 1
"""

# quality funnel: per-rule kill attribution + survivor mass (mirror of
# q_text_quality_funnel; same word-count CTE shape as text_repetition)
ORACLES["text_quality_funnel"] = f"""
WITH w AS (
  SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS nc,
         {_sw_hits("en")} AS nsw,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
  FROM documents
), ex AS (
  SELECT doc_id, unnest(ws) AS word FROM w
), wc AS (
  SELECT doc_id, word, COUNT(*) AS c FROM ex GROUP BY 1, 2
), per AS (
  SELECT doc_id, SUM(c) AS nw, COUNT(*) AS nd, MAX(c) AS mc
  FROM wc GROUP BY 1
), f AS (
  SELECT w.lang, w.nc, w.nsw,
         COALESCE(per.nw, 0) AS nw,
         COALESCE(per.nd, 0) AS nd,
         COALESCE(per.mc, 0) AS mc
  FROM w LEFT JOIN per USING (doc_id)
), k AS (
  SELECT lang, nw,
         CASE WHEN nw < 15 THEN 1 ELSE 0 END AS too_short,
         CASE WHEN nc > 500 THEN 1 ELSE 0 END AS too_long,
         CASE WHEN nsw = 0 THEN 1 ELSE 0 END AS no_stop,
         CASE WHEN nd * 20 < nw * 7 THEN 1 ELSE 0 END AS low_vocab,
         CASE WHEN mc * 6 > nw THEN 1 ELSE 0 END AS mode_heavy
  FROM f
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(too_short) AS BIGINT) AS n_too_short,
       CAST(SUM(too_long) AS BIGINT) AS n_too_long,
       CAST(SUM(no_stop) AS BIGINT) AS n_no_stopwords,
       CAST(SUM(low_vocab) AS BIGINT) AS n_low_vocab,
       CAST(SUM(mode_heavy) AS BIGINT) AS n_mode_heavy,
       CAST(SUM(CASE WHEN too_short + too_long + no_stop + low_vocab
                          + mode_heavy > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_killed,
       CAST(SUM(CASE WHEN too_short + too_long + no_stop + low_vocab
                          + mode_heavy = 0 THEN nw ELSE 0 END) AS BIGINT)
         AS kept_ws_tokens
FROM k GROUP BY lang
"""

ORACLES["asof_last_error"] = """
WITH a AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), b AS (
  SELECT user_id, ts, event_id AS last_error_id FROM events WHERE event_type = 'error'
)
SELECT a.event_id AS event_id, a.user_id AS user_id, b.last_error_id AS last_error_id
FROM a ASOF LEFT JOIN b ON a.user_id = b.user_id AND a.ts >= b.ts
"""

ORACLES["multimodal_frames"] = """
WITH media AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_ref,
         CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
              THEN 'image/jpeg' ELSE 'audio/wav' END AS mime,
         text AS t
  FROM documents
), fnv AS (
  SELECT media_ref, mime,
         CASE WHEN length(t) = 0 THEN CAST(0 AS HUGEINT) ELSE
           list_reduce(
             list_prepend(CAST(1469598103934665603 AS HUGEINT),
               list_transform(range(1, least(length(t), 4096) + 1),
                              i -> CAST(ascii(substr(t, CAST(i AS INT), 1)) AS HUGEINT))),
             (acc, c) -> (xor(acc, c) * 1099511628211) % CAST('18446744073709551616' AS HUGEINT))
         END AS h
  FROM media
), fr AS (
  SELECT media_ref, mime, CAST(8 + h % 24 AS INT) AS n_frames, h
  FROM fnv WHERE h <> 0
), sel AS (
  SELECT media_ref, mime, n_frames, h,
         unnest(range(0, CAST(n_frames AS BIGINT), 4)) AS fi
  FROM fr
)
SELECT media_ref, mime, n_frames, CAST(fi AS INT) AS frame_idx,
       CAST(((xor(h, CAST(fi AS HUGEINT)) * 1099511628211)
             % CAST('18446744073709551616' AS HUGEINT))
             % CAST('4611686018427387904' AS HUGEINT) AS BIGINT) AS frame_hash
FROM sel
"""

ORACLES["multimodal_resize"] = """
WITH media AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_ref,
         CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
              THEN 'image/jpeg' ELSE 'audio/wav' END AS mime,
         text AS t
  FROM documents
), fnv AS (
  SELECT media_ref, mime,
         CASE WHEN length(t) = 0 THEN CAST(0 AS HUGEINT) ELSE
           list_reduce(
             list_prepend(CAST(1469598103934665603 AS HUGEINT),
               list_transform(range(1, least(length(t), 4096) + 1),
                              i -> CAST(ascii(substr(t, CAST(i AS INT), 1)) AS HUGEINT))),
             (acc, c) -> (xor(acc, c) * 1099511628211) % CAST('18446744073709551616' AS HUGEINT))
         END AS h
  FROM media
)
SELECT media_ref,
       CAST(16 + h % 4096 AS INT) AS src_width,
       CAST(16 + (h // 4096) % 4096 AS INT) AS src_height,
       CAST(64 AS INT) AS dst_width,
       CAST(64 AS INT) AS dst_height,
       CAST(((xor(h, CAST(64 * 4096 + 64 AS HUGEINT)) * 1099511628211)
             % CAST('18446744073709551616' AS HUGEINT))
             % CAST('4611686018427387904' AS HUGEINT) AS BIGINT) AS resized_hash
FROM fnv
WHERE mime LIKE 'image/%' AND h <> 0
"""

# S6: PAGE-XML sink + source round-trip (src/HelperMethods.py:116-157) —
# the same build (ordered r1..rN regions, 4-corner points strings) and
# regexp parse as the Spark query, mirrored in SQL.
_PAGE_NS = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2013-07-15"

ORACLES["s6_page_xml_roundtrip"] = f"""
WITH {_sessions_cte(SESSION_GAP_S)},
ordered AS (
  SELECT user_id, t_min, t_max,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY t_min, t_max, session_id) AS rn
  FROM blocks_sess
), pages AS (
  SELECT user_id,
         string_agg(
           '<TextRegion id="r' || rn || '"><Coords points="'
           || t_min || ',0 ' || t_max || ',0 ' || t_max || ',1 '
           || t_min || ',1"/></TextRegion>', '' ORDER BY rn) AS body,
         MAX(t_max) AS w
  FROM ordered GROUP BY user_id
), xmls AS (
  SELECT user_id,
         '<PcGts xmlns="{_PAGE_NS}"><Page imageFilename="u'
         || user_id || '" imageWidth="' || w || '" imageHeight="1">'
         || body || '</Page></PcGts>' AS xml
  FROM pages
), parsed AS (
  SELECT user_id,
         regexp_extract_all(xml, '<TextRegion id="r(\\d+)">', 1) AS ids,
         regexp_extract_all(xml, 'points="([^"]*)"', 1) AS pts,
         CAST(regexp_extract(xml, 'imageWidth="(\\d+)"', 1) AS BIGINT) AS page_w
  FROM xmls
)
SELECT user_id,
       CAST(z[1] AS BIGINT) AS region_id,
       CAST(str_split(str_split(z[2], ' ')[1], ',')[1] AS BIGINT) AS lo,
       CAST(str_split(str_split(z[2], ' ')[2], ',')[1] AS BIGINT) AS hi,
       page_w
FROM parsed, UNNEST(list_zip(ids, pts)) AS u(z)
"""


# passage-level exact dedup (dedup.passage_dedup_stats): 6-word
# non-overlapping passages of the normalized text; first (doc_id, pos)
# occurrence of each md5 fingerprint survives; kept_fp = md5 of the
# survivors re-joined in document order
ORACLES["dedup_passages"] = f"""
WITH {_NORM_WORDS_CTE[1:]},
{_WS_CTE[1:]},
pl AS (
  SELECT doc_id,
         CASE WHEN len(ws) > 0 THEN
           list_transform(range(0, CAST(ceil(len(ws) / 6.0) AS BIGINT)),
                          i -> array_to_string(list_slice(ws, i*6 + 1, i*6 + 6), ' '))
         ELSE CAST([] AS VARCHAR[]) END AS ps
  FROM wsed
), ex AS (
  SELECT doc_id,
         unnest(range(0, len(ps))) AS pos,
         unnest(ps) AS passage
  FROM pl
), ranked AS (
  SELECT doc_id, pos, passage,
         ROW_NUMBER() OVER (PARTITION BY md5(passage)
                            ORDER BY doc_id, pos) AS rn
  FROM ex
), perdoc AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         md5(string_agg(passage, ' ' ORDER BY pos)) AS kept_fp
  FROM ranked WHERE rn = 1 GROUP BY doc_id
)
SELECT CAST(p.doc_id AS BIGINT) AS id,
       CAST(len(p.ps) AS BIGINT) AS n_passages,
       CAST(COALESCE(d.n_kept, 0) AS BIGINT) AS n_kept,
       COALESCE(d.kept_fp, md5('')) AS kept_fp
FROM pl p LEFT JOIN perdoc d ON p.doc_id = d.doc_id
"""


def _kmeans_ctes(
    k: int = 4,
    iters: int = 2,
    dims: int = 64,
    grid: int = 16384,
    fit_mod: int = 1,
) -> str:
    """Shared unrolled quantized-Lloyd CTE chain (mirror of
    cluster.kmeans_assign): assignment by integer squared distance
    (ties -> lowest cid), centroid update by exact euclidean floor
    division, empty clusters keep their previous centroid. All
    arithmetic int64 — bit-identical to Spark. Ends with `aF` (final
    FULL-corpus assignment: vec_id, cid, dist, rn; rows with rn = 1
    are the assignment) and `cents{iters}` (final centroids).
    ``fit_mod`` mirrors the sample-fit path: seeds and Lloyd
    iterations run on vec_id % fit_mod = 0 only."""
    dist = (
        f"CAST(list_sum(list_transform(range(1, {dims + 1}), "
        f"i -> (p.qv[i] - c.mv[i]) * (p.qv[i] - c.mv[i]))) AS BIGINT)"
    )
    sums = ",\n         ".join(
        f"CAST(SUM(qv[{d + 1}]) AS BIGINT) AS s{d}" for d in range(dims)
    )
    mean = ", ".join(
        f"CAST((s.s{d} - ((s.s{d} % s.n) + s.n) % s.n) / s.n AS BIGINT)"
        for d in range(dims)
    )
    ctes = [
        f"""pts AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * {grid}) AS BIGINT)) AS qv
  FROM embeddings
)""",
        f"""fitp AS (
  SELECT * FROM pts WHERE vec_id % {fit_mod} = 0
)""",
        f"""cents0 AS (
  SELECT vec_id AS cid, qv AS mv FROM fitp ORDER BY vec_id LIMIT {k}
)""",
    ]
    for t in range(iters):
        ctes.append(f"""d{t} AS (
  SELECT p.vec_id, p.qv, c.cid, {dist} AS dist
  FROM fitp p CROSS JOIN cents{t} c
), a{t} AS (
  SELECT vec_id, qv, cid, dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM d{t}
), s{t} AS (
  SELECT cid AS cl, COUNT(*) AS n,
         {sums}
  FROM a{t} WHERE rn = 1 GROUP BY cid
), cents{t + 1} AS (
  SELECT c.cid,
         CASE WHEN s.n IS NULL THEN c.mv
              ELSE list_value({mean}) END AS mv
  FROM cents{t} c LEFT JOIN s{t} s ON s.cl = c.cid
)""")
    joined = ",\n".join(ctes)
    return f"""{joined},
dF AS (
  SELECT p.vec_id, c.cid, {dist} AS dist
  FROM pts p CROSS JOIN cents{iters} c
), aF AS (
  SELECT vec_id, cid, dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM dF
)"""


def _kmeans_oracle(
    k: int = 4,
    iters: int = 2,
    dims: int = 64,
    grid: int = 16384,
    fit_mod: int = 1,
) -> str:
    """Final per-cluster stats over the shared Lloyd CTE chain —
    mirror of cluster.kmeans_quantized."""
    return f"""
WITH {_kmeans_ctes(k, iters, dims, grid, fit_mod)},
fin AS (
  SELECT cid, COUNT(*) AS n_points, SUM(dist) AS wcss
  FROM aF WHERE rn = 1 GROUP BY cid
), dig AS (
  SELECT cid,
         CAST(list_sum(list_transform(range(1, {dims + 1}), i -> mv[i] * i)) AS BIGINT)
           AS centroid_digest
  FROM cents{iters}
)
SELECT CAST(f.cid AS BIGINT) AS cluster,
       CAST(f.n_points AS BIGINT) AS n_points,
       CAST(f.wcss AS BIGINT) AS wcss,
       g.centroid_digest
FROM fin f JOIN dig g ON f.cid = g.cid
"""


ORACLES["emb_kmeans"] = _kmeans_oracle()


def _semantic_dedup_oracle(
    k: int = 4,
    iters: int = 2,
    dims: int = 64,
    grid: int = 16384,
    num: int = 2,
    den: int = 5,
    fit_mod: int = 1,
) -> str:
    """SemDeDup mirror of cluster.semantic_near_pairs: the shared
    Lloyd CTE chain assigns every point to a cluster, then pairs are
    compared within clusters only, with the integer-exact cosine test
    dot > 0 AND dot²·den² >= num²·|a|²·|b|² run in HUGEINT (the
    int128 twin of Spark's decimal(38,0) — dot² <= 2^72 overflows
    int64 in both engines)."""
    dot = (
        f"CAST(list_sum(list_transform(range(1, {dims + 1}), "
        f"i -> x.qv[i] * y.qv[i])) AS BIGINT)"
    )
    return f"""
WITH {_kmeans_ctes(k, iters, dims, grid, fit_mod)},
feat AS (
  SELECT a.vec_id, a.cid, p.qv,
         CAST(list_sum(list_transform(p.qv, v -> v * v)) AS BIGINT) AS n2
  FROM aF a JOIN pts p USING (vec_id)
  WHERE a.rn = 1
),
cand AS (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.cid AS cluster,
         {dot} AS dot, x.n2 AS n2_a, y.n2 AS n2_b
  FROM feat x JOIN feat y ON x.cid = y.cid AND x.vec_id < y.vec_id
)
SELECT CAST(id_a AS BIGINT) AS id_a,
       CAST(id_b AS BIGINT) AS id_b,
       CAST(cluster AS BIGINT) AS cluster
FROM cand
WHERE dot > 0
  AND CAST(dot AS HUGEINT) * dot * {den * den}
      >= CAST({num * num} AS HUGEINT) * n2_a * n2_b
"""


# VALIDITY NOTE (applies to the dedup_semantic and emb_kmeans oracles):
# the oracles pin k=4 and their own fit_mod, which equals the entry
# queries' n-derived values ONLY at the sf0.01 driver point (n=500 ->
# k=max(4, ceil(500/125))=4). compare_oracle against any other sf dir
# reports a spurious mismatch for this family — same caveat CLAUDE.md
# records for fit_mod.
ORACLES["dedup_semantic"] = _semantic_dedup_oracle()


# per-source boilerplate k-gram screen (dedup.boilerplate_ngram_stats):
# positional 3-grams over the normalized text, df counted as DISTINCT
# docs within (source, gram), grams with df >= 2 are boilerplate; per
# doc the oracle counts gram hits (distinct positions) and the distinct
# token positions those hits cover — identical tokenization to the
# Spark side (lower / strip-punct / collapse-ws / drop-empties).
# Position bases differ (Spark posexplode 0-based, SQL range 1-based)
# but only DISTINCT counts are emitted, which are base-invariant.
_BP_K = 3
_BP_GRAM = " || ' ' || ".join(f"ws[i+{j}]" for j in range(_BP_K))
ORACLES["text_boilerplate_ngrams"] = rf"""
WITH norm AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                             '\s+', ' ', 'g')) AS t
  FROM documents
), wsed AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(t, '\s+'), x -> x <> '') AS ws
  FROM norm
), occ AS (
  SELECT doc_id, source, i AS pos, {_BP_GRAM} AS g
  FROM wsed, LATERAL (SELECT unnest(range(1, len(ws) - {_BP_K - 2})) AS i) gi
  WHERE len(ws) >= {_BP_K}
), boiler AS (
  SELECT source, g FROM occ GROUP BY source, g
  HAVING count(DISTINCT doc_id) >= 2
), hits AS (
  SELECT o.doc_id, o.pos FROM occ o JOIN boiler b USING (source, g)
), cov AS (
  SELECT doc_id,
         count(DISTINCT pos) AS n_boiler_grams,
         count(DISTINCT tp) AS n_boiler_tokens
  FROM hits, LATERAL (SELECT unnest(range(pos, pos + {_BP_K})) AS tp) ti
  GROUP BY doc_id
)
SELECT w.doc_id AS id,
       CAST(len(w.ws) AS BIGINT) AS n_tokens,
       CAST(coalesce(c.n_boiler_grams, 0) AS BIGINT) AS n_boiler_grams,
       CAST(coalesce(c.n_boiler_tokens, 0) AS BIGINT) AS n_boiler_tokens
FROM wsed w LEFT JOIN cov c USING (doc_id)
"""


# per-language corpus data card (q_corpus_datacard): composes the SAME
# expressions as text_fingerprint / text_token_counts / text_quality —
# the card's numbers are the pipeline's numbers. All exact integers.
ORACLES["corpus_datacard"] = f"""
WITH per_doc AS (
  SELECT lang,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                                 '\\s+', ' ', 'g'))) AS fp,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tok,
         CAST(n_chars AS BIGINT) AS n_chars,
         {_QUALITY_EXPR} AS q
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_unique_docs,
       CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_dup_docs,
       CAST(sum(n_tok) AS BIGINT) AS token_mass,
       CAST(sum(n_chars) AS BIGINT) AS char_mass,
       CAST(sum(q) AS BIGINT) AS quality_mass,
       CAST(sum(CASE WHEN q < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality
FROM per_doc
GROUP BY lang
"""


# crawl-to-crawl snapshot diff (q_corpus_snapshot_diff): the two crawls
# derive from the one table — new crawl dropped id % 23 == 0 (removed),
# old crawl lacked id % 19 == 0 (added), id % 7 == 0 text differed
# (changed); full outer join on doc_id, md5-fingerprint comparison,
# per-(lang, status) counts. Fingerprint expr = the text_fingerprint one.
_FP_EXPR = (
    "md5(trim(regexp_replace(regexp_replace(lower({t}), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g')))"
)
ORACLES["corpus_snapshot_diff"] = f"""
WITH cur AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         {_FP_EXPR.format(t="text")} AS fp
  FROM documents WHERE doc_id % 23 <> 0
), prev AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         {_FP_EXPR.format(t="CASE WHEN doc_id % 7 = 0 THEN text || ' v1' ELSE text END")} AS fp
  FROM documents WHERE doc_id % 19 <> 0
)
SELECT coalesce(c.lang, p.lang) AS lang,
       CASE WHEN p.doc_id IS NULL THEN 'added'
            WHEN c.doc_id IS NULL THEN 'removed'
            WHEN c.fp <> p.fp THEN 'changed'
            ELSE 'unchanged' END AS status,
       CAST(count(*) AS BIGINT) AS n_docs
FROM cur c FULL OUTER JOIN prev p ON c.doc_id = p.doc_id
GROUP BY 1, 2
"""


# curriculum shard layout (q_t10_curriculum_shards): exact global
# (quality, doc_id) rank → shard = (rank0 * 8) // n; per-shard counts
# and quality range. The oracle can afford the single-order window the
# Spark side refuses (DuckDB is one process; the Spark form is the
# two-phase histogram-prefix + per-q window — same math, no funnel).
ORACLES["t10_curriculum_shards"] = f"""
WITH per AS (
  SELECT CAST(doc_id AS BIGINT) AS id, {_QUALITY_EXPR} AS q
  FROM documents
), r AS (
  SELECT q,
         row_number() OVER (ORDER BY q, id) - 1 AS rank0,
         count(*) OVER () AS n
  FROM per
)
SELECT CAST((rank0 * 8) // n AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(q) AS min_q,
       max(q) AS max_q
FROM r
GROUP BY 1
"""


# URL-level dedup via canonicalization (textops.canonical_url +
# q_dedup_url_canonical): the raw-URL derivation and the six
# canonicalization regexp passes are mirrored exactly. Rules in order:
# strip fragment; strip utm_* params; promote a stranded leading '&' to
# '?' (anchored — fires at most once, DuckDB's default first-match
# replace is therefore equivalent to Spark's global replace); strip
# scheme; strip www.; lowercase the host only; strip trailing '/' runs
# before '?' or end. Patterns are in the Java-regex ∩ RE2 dialect (no
# lookarounds — RE2 lacks them); backreference syntax differs ($1 vs \1)
# but semantics agree.
ORACLES["dedup_url_canonical"] = r"""
WITH raw AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
      || (CASE WHEN doc_id % 5 = 0 THEN 'www.' ELSE '' END)
      || (CASE WHEN doc_id % 3 = 0
               THEN upper('src' || CAST(doc_id % 20 AS VARCHAR) || '.example.com')
               ELSE 'src' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' END)
      || '/docs/' || CAST(doc_id % 400 AS VARCHAR)
      || (CASE WHEN doc_id % 11 = 0 THEN '/' ELSE '' END)
      || (CASE WHEN doc_id % 17 = 0
               THEN '?page=' || CAST(doc_id % 3 + 1 AS VARCHAR) ELSE '' END)
      || (CASE WHEN doc_id % 7 = 0
               THEN CASE WHEN doc_id % 17 = 0 THEN '&utm_source=feed'
                         ELSE '?utm_source=feed&utm_campaign=c'
                              || CAST(doc_id % 2 AS VARCHAR) END
               ELSE '' END)
      || (CASE WHEN doc_id % 13 = 0
               THEN '#sec' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END) AS url
  FROM documents
), stripped AS (
  SELECT doc_id, url,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(regexp_replace(url, '#.*$', ''),
                              '[?&]utm_[a-z]+=[^&#]*', '', 'g'),
               '^([^?]*)&', '\1?'),
             '^https?://', ''),
           '^www\.', '') AS c4
  FROM raw
), canon AS (
  SELECT doc_id, url,
         regexp_replace(
           lower(regexp_extract(c4, '^[^/?#]*'))
             || regexp_replace(c4, '^[^/?#]*', ''),
           '/+(\?|$)', '\1', 'g') AS canon
  FROM stripped
)
SELECT canon,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT url) AS BIGINT) AS n_raw_forms,
       min(doc_id) AS keeper_id
FROM canon
GROUP BY canon
"""


# S7 JSONL round-trip: the Spark query writes the corpus as line-JSON,
# reads it back with a declared schema, and aggregates; the oracle
# computes the identical aggregate straight from the documents table —
# equality proves byte-exact text survival through JSON escape/unescape
_WS_COUNT = r"CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT)"
ORACLES["s7_jsonl_roundtrip"] = f"""
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars,
       CAST(SUM({_WS_COUNT}) AS BIGINT) AS ws_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS min_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_id,
       CAST(SUM(CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % 2147483647)
            AS BIGINT) AS text_checksum
FROM documents
GROUP BY lang, source
"""

# ORC round-trip (q_s10_orc_roundtrip): identical contract to the
# JSONL round-trip — the oracle aggregates the ORIGINAL table, so
# equality proves the ORC write/read preserved every byte.
ORACLES["s10_orc_roundtrip"] = f"""
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars,
       CAST(SUM({_WS_COUNT}) AS BIGINT) AS ws_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS min_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_id,
       CAST(SUM(CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % 2147483647)
            AS BIGINT) AS text_checksum
FROM documents
GROUP BY lang, source
"""

# s8 corrupt-tolerant JSONL ingest: the Spark query corrupts every
# doc_id % 37 == 0 line before writing and reads back in PERMISSIVE
# mode with a _corrupt_record quarantine column; the oracle
# reconstructs both populations straight from documents — the corrupt
# line is a deterministic function of doc_id, the good line's text
# must survive the JSON round trip byte-exactly
_FP64 = "CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"
ORACLES["s8_jsonl_corrupt_ingest"] = f"""
SELECT 'corrupt' AS status,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS chars,
       CAST(SUM({_FP64.format(x="'CORRUPT ' || CAST(doc_id AS VARCHAR)")}
                % 2147483647) AS BIGINT) AS checksum
FROM documents WHERE doc_id % 37 = 0
UNION ALL
SELECT 'ok' AS status,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(n_chars) AS BIGINT) AS chars,
       CAST(SUM({_FP64.format(x="text")} % 2147483647) AS BIGINT) AS checksum
FROM documents WHERE doc_id % 37 <> 0
"""

# s9 re-crawl upsert: the oracle reconstructs the post-merge corpus
# straight from documents (doc_id % 10 == 0 rows carry the v2 text and
# n_chars + 13); checksum equality proves replaced rows carry exactly
# the new text and untouched rows exactly the old
ORACLES["s9_upsert_recrawl"] = f"""
WITH merged AS (
  SELECT lang,
         doc_id,
         CASE WHEN doc_id % 10 = 0 THEN text || ' [recrawl v2]' ELSE text END AS text,
         CASE WHEN doc_id % 10 = 0 THEN n_chars + 13 ELSE n_chars END AS n_chars
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_recrawled,
       CAST(SUM(n_chars) AS BIGINT) AS chars,
       CAST(SUM({_FP64.format(x="text")} % 2147483647) AS BIGINT) AS text_checksum
FROM merged GROUP BY lang
"""

# t8 sequence packing (mirror of packing.pack_sequences via the naive
# single-window global cumsum — the oracle can afford the funnel):
# exact int64 prefix sum in doc_id order, bin = cum_before // 512,
# spill = tokens past the bin boundary
ORACLES["t8_pack_sequences"] = f"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS id, {_WS_COUNT} AS n_tokens
  FROM documents
), c AS (
  SELECT id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cum_before
  FROM t
)
SELECT id, n_tokens, CAST(cum_before AS BIGINT) AS cum_before,
       CAST(cum_before // 512 AS BIGINT) AS bin,
       CAST(GREATEST(0, cum_before % 512 + n_tokens - 512) AS BIGINT) AS spill
FROM c
"""

# exact type-1 per-lang length quantiles: value at rank
# floor(pct * (n-1) / 100) + 1 of the (n_tokens, doc_id) order —
# integer index arithmetic, no interpolation float
ORACLES["text_length_quantiles"] = f"""
WITH d AS (
  SELECT lang, CAST(doc_id AS BIGINT) AS doc_id,
         {_WS_COUNT} AS n_tokens
  FROM documents
), ranked AS (
  SELECT lang, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS rn
  FROM d
), counts AS (
  SELECT lang, COUNT(*) AS n FROM d GROUP BY lang
), targets AS (
  SELECT c.lang, p.pct,
         CAST(floor(p.pct * (c.n - 1) / 100) + 1 AS BIGINT) AS target
  FROM counts c CROSS JOIN (VALUES (25), (50), (75), (90)) AS p(pct)
)
SELECT r.lang, CAST(t.pct AS BIGINT) AS pct, CAST(r.n_tokens AS BIGINT) AS n_tokens
FROM ranked r JOIN targets t ON r.lang = t.lang AND r.rn = t.target
"""

# HDR-histogram quantile sketch (mirror of q_text_length_quantiles_sketch
# / textops.sig_bucket_lo): each n_tokens rounded down to 4 significant
# bits via the integer smear+bit_count bit-length (no float log2), then
# per-(lang, lo) counts, cumulative rank over the ~520-bucket state, and
# the same type-1 rank rule as the exact form. DuckDB's lateral column
# aliases chain the smear steps without expression blowup.
ORACLES["text_length_quantiles_sketch"] = f"""
WITH d AS (
  SELECT lang, CAST({_WS_COUNT} AS BIGINT) AS v FROM documents
), lo AS (
  SELECT lang,
         v | (v>>1) AS s1,
         s1 | (s1>>2) AS s2,
         s2 | (s2>>4) AS s3,
         s3 | (s3>>8) AS s4,
         s4 | (s4>>16) AS s5,
         s5 | (s5>>32) AS s6,
         greatest(0, CAST(bit_count(s6) AS BIGINT) - 4) AS sh,
         (v >> sh) << sh AS lo
  FROM d
), hist AS (
  SELECT lang, lo, CAST(COUNT(*) AS BIGINT) AS cnt FROM lo GROUP BY 1, 2
), cum AS (
  SELECT lang, lo, cnt,
         SUM(cnt) OVER (PARTITION BY lang ORDER BY lo) AS cum,
         SUM(cnt) OVER (PARTITION BY lang ORDER BY lo) - cnt AS cum_before
  FROM hist
), counts AS (
  SELECT lang, SUM(cnt) AS n FROM hist GROUP BY 1
), targets AS (
  SELECT c.lang, p.pct,
         CAST(floor(p.pct * (c.n - 1) / 100) + 1 AS BIGINT) AS target
  FROM counts c CROSS JOIN (VALUES (25), (50), (75), (90)) AS p(pct)
)
SELECT cum.lang, CAST(t.pct AS BIGINT) AS pct,
       CAST(cum.lo AS BIGINT) AS est_tokens
FROM cum JOIN targets t
  ON cum.lang = t.lang AND cum.cum_before < t.target AND t.target <= cum.cum
"""


# SQ8 quantized ANN (q_ann_sq8_top1): symmetric int8 quantization with
# a power-of-two scale (floor(x*128) clamped to [-128,127] — exact in
# IEEE, no float-division rounding seam), ranked by the integer code
# dot product (associative, so no fold-order discipline), tie lowest
# neighbor_id; exact_hit joins against the float brute-force top-1.
_SQ8_CODES = (
    "list_transform({v}, x -> CAST(greatest(-128.0, least(127.0, "
    "floor(CAST(x AS DOUBLE) * 128.0))) AS BIGINT))"
)
_SQ8_DOT = " + ".join(f"qc[{d}] * cc[{d}]" for d in range(1, 65))
ORACLES["ann_sq8_top1"] = f"""
WITH codes AS (
  SELECT vec_id, {_SQ8_CODES.format(v="embedding")} AS code FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         q.code AS qc, c.code AS cc
  FROM codes q JOIN codes c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 30
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
           ORDER BY ({_SQ8_DOT}) DESC, neighbor_id ASC) AS rn
  FROM scored
), sq AS (
  SELECT query_id, neighbor_id FROM ranked WHERE rn = 1
), bf AS (
  SELECT query_id, neighbor_id AS bf_nid FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {_cosine_expr("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rn
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 30
  ) WHERE rn = 1
)
SELECT CAST(sq.query_id AS BIGINT) AS query_id,
       CAST(sq.neighbor_id AS BIGINT) AS neighbor_id,
       CAST(coalesce(CASE WHEN sq.neighbor_id = bf.bf_nid THEN 1 ELSE 0 END, 0) AS BIGINT) AS exact_hit
FROM sq LEFT JOIN bf USING (query_id)
"""


# HLL register maxima (q_corpus_hll_registers): 60-bit md5 hash of the
# normalized-text fingerprint; bucket = h % 64, w = h >> 6; rho = 1-based
# position of w's lowest set bit via bit_count(lowest-1)+1 (w==0 pins to
# 55). All integer — mirrors textops.hll_register bit for bit.
ORACLES["corpus_hll_registers"] = f"""
WITH h AS (
  SELECT lang,
         CAST(concat('0x', substr({_FP_EXPR.format(t="text")}, 1, 15)) AS BIGINT) AS h
  FROM documents
), reg AS (
  SELECT lang, h % 64 AS bucket, h >> 6 AS w FROM h
)
SELECT lang, CAST(bucket AS BIGINT) AS bucket,
       CAST(max(CASE WHEN w = 0 THEN 55
                     ELSE bit_count((w - (w & (w - 1))) - 1) + 1 END) AS BIGINT) AS max_rho
FROM reg GROUP BY 1, 2
"""


# z-order layout (q_t11_zorder_layout): Morton-interleave 7 bits of
# quality (clamped to 127) with 7 bits of ws-token count; shard = z >> 10
# (aligned 1024-cell z-blocks = 32x32 rectangles in (q, t) space); the
# min/max witness columns prove two-dimensional locality.
_Z_BITS = " + ".join(
    f"((q >> {i}) & 1) * {1 << (2 * i)} + ((t >> {i}) & 1) * {1 << (2 * i + 1)}"
    for i in range(7)
)
ORACLES["t11_zorder_layout"] = f"""
WITH d AS (
  SELECT LEAST({_QUALITY_EXPR}, 127) AS q,
         LEAST({_WS_COUNT}, 127) AS t
  FROM documents
), z AS (
  SELECT q, t, ({_Z_BITS}) AS zval FROM d
)
SELECT CAST(zval >> 10 AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(q) AS BIGINT) AS min_q, CAST(max(q) AS BIGINT) AS max_q,
       CAST(min(t) AS BIGINT) AS min_t, CAST(max(t) AS BIGINT) AS max_t
FROM z GROUP BY 1
"""


# Bloom-filter decontamination (q_dedup_decontaminate_bloom): mirrors
# dedup.bloom_decontaminate_stats bit for bit — kh=3 positions per
# shingle from disjoint 40-bit md5 slices mod m_bits, m_bits = next
# power of two >= 16 * n_distinct_bench_shingles, 63-bit limbs (shift
# by 63 is sign-bit overflow on both engines), bit_or-built filter,
# exact semi-join computed alongside for the fp/fn witness columns.
_BLOOM_POS = (
    "CAST(concat('0x', substr(md5(shingle), {start}, 10)) AS BIGINT) % m_bits"
)
ORACLES["dedup_decontaminate_bloom"] = f"""
WITH {_NORM_WORDS_CTE[1:]},
{_WS_CTE[1:]},
sh AS (
  SELECT doc_id, {_shingles_expr(3)} AS shingles FROM wsed
), bench_sh AS (
  SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 20 = 7
), mb AS (
  SELECT CAST(CAST(1 AS BIGINT) << GREATEST(6, length(bin(16 * GREATEST(count(*), 1) - 1))) AS BIGINT) AS m_bits
  FROM bench_sh
), bpos AS (
  SELECT unnest(list_value(
    {_BLOOM_POS.format(start=1)},
    {_BLOOM_POS.format(start=11)},
    {_BLOOM_POS.format(start=21)}
  )) AS pos
  FROM bench_sh CROSS JOIN mb
), limbs AS (
  SELECT pos // 63 AS wi,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INTEGER)) AS w
  FROM bpos GROUP BY 1
), train_sh AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE doc_id % 20 <> 7
), probed AS (
  SELECT doc_id,
         {_BLOOM_POS.format(start=1)} AS p0,
         {_BLOOM_POS.format(start=11)} AS p1,
         {_BLOOM_POS.format(start=21)} AS p2
  FROM train_sh CROSS JOIN mb
), hits AS (
  SELECT p.doc_id,
         CASE WHEN (coalesce(w0.w, 0) & (CAST(1 AS BIGINT) << CAST(p.p0 % 63 AS INTEGER))) <> 0
               AND (coalesce(w1.w, 0) & (CAST(1 AS BIGINT) << CAST(p.p1 % 63 AS INTEGER))) <> 0
               AND (coalesce(w2.w, 0) & (CAST(1 AS BIGINT) << CAST(p.p2 % 63 AS INTEGER))) <> 0
              THEN 1 ELSE 0 END AS h
  FROM probed p
  LEFT JOIN limbs w0 ON w0.wi = p.p0 // 63
  LEFT JOIN limbs w1 ON w1.wi = p.p1 // 63
  LEFT JOIN limbs w2 ON w2.wi = p.p2 // 63
), per_doc_bloom AS (
  SELECT doc_id, SUM(h) AS bloom_hits FROM hits GROUP BY doc_id
), per_doc_exact AS (
  SELECT t.doc_id, COUNT(*) AS exact_hits
  FROM train_sh t JOIN bench_sh b ON t.shingle = b.shingle
  GROUP BY t.doc_id
), joined AS (
  SELECT coalesce(pb.bloom_hits, 0) AS bloom_hits,
         coalesce(pe.exact_hits, 0) AS exact_hits
  FROM per_doc_bloom pb FULL OUTER JOIN per_doc_exact pe USING (doc_id)
)
SELECT CAST(count(*) AS BIGINT) AS n_probed_docs,
       CAST(SUM(CASE WHEN bloom_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_bloom_flagged,
       CAST(SUM(CASE WHEN exact_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_exact_flagged,
       CAST(SUM(CASE WHEN bloom_hits > 0 AND exact_hits = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp_docs,
       CAST(SUM(CASE WHEN exact_hits > 0 AND bloom_hits = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn_docs,
       CAST(SUM(bloom_hits) AS BIGINT) AS bloom_shingle_hits,
       CAST(SUM(exact_hits) AS BIGINT) AS exact_shingle_hits
FROM joined
"""


# composed IVF + SQ8 (q_ann_ivf_sq8_top1): same float-cosine assignment
# CTEs as ann_ivf_join_top1 (both variants block identically), in-list
# ranking by the integer dot of SQ8 codes, left-joined against the
# float-scan IVF top-1 for the ivf_hit quantization witness.
ORACLES["ann_ivf_sq8_top1"] = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 64
), cross_sc AS (
  SELECT e.vec_id, c.cid, {_safe_cos("e.embedding", "c.cv")} AS sc
  FROM embeddings e CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, lst FROM (
    SELECT vec_id, cid AS lst,
           row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, cid ASC) AS rn
    FROM cross_sc
  ) WHERE rn = 1
), listed AS (
  SELECT e.vec_id, e.embedding, {_SQ8_CODES.format(v="e.embedding")} AS code, a.lst
  FROM embeddings e JOIN assigned a USING (vec_id)
), sq_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         q.code AS qc, c.code AS cc
  FROM listed q JOIN listed c ON q.lst = c.lst AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 30
), sq AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY ({_SQ8_DOT}) DESC, neighbor_id ASC) AS rn
    FROM sq_scored
  ) WHERE rn = 1
), fl_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_safe_cos("q.embedding", "c.embedding")} AS cos_sim
  FROM listed q JOIN listed c ON q.lst = c.lst AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 30
), fl AS (
  SELECT query_id, neighbor_id AS ivf_nid FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
    FROM fl_scored
  ) WHERE rn = 1
)
SELECT CAST(sq.query_id AS BIGINT) AS query_id,
       CAST(sq.neighbor_id AS BIGINT) AS neighbor_id,
       CAST(coalesce(CASE WHEN sq.neighbor_id = fl.ivf_nid THEN 1 ELSE 0 END, 0) AS BIGINT) AS ivf_hit
FROM sq LEFT JOIN fl USING (query_id)
"""


# SQ8 shortlist -> float re-rank (q_ann_sq8_rerank_top1): int8-dot
# top-8 shortlist per query (same codes/dot as ann_sq8_top1), exact
# float cosine re-rank of the shortlist, bf_hit witness vs brute force.
ORACLES["ann_sq8_rerank_top1"] = f"""
WITH codes AS (
  SELECT vec_id, {_SQ8_CODES.format(v="embedding")} AS code FROM embeddings
), sq_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         q.code AS qc, c.code AS cc
  FROM codes q JOIN codes c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 30
), short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY ({_SQ8_DOT}) DESC, neighbor_id ASC) AS rn
    FROM sq_scored
  ) WHERE rn <= 8
), rer AS (
  SELECT s.query_id, s.neighbor_id,
         {_cosine_expr("q.embedding", "c.embedding")} AS cos_sim
  FROM short s
  JOIN embeddings q ON q.vec_id = s.query_id
  JOIN embeddings c ON c.vec_id = s.neighbor_id
), top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
    FROM rer
  ) WHERE rn = 1
), bf AS (
  SELECT query_id, neighbor_id AS bf_nid FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {_cosine_expr("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rn
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 30
  ) WHERE rn = 1
)
SELECT CAST(t.query_id AS BIGINT) AS query_id,
       CAST(t.neighbor_id AS BIGINT) AS neighbor_id,
       CAST(coalesce(CASE WHEN t.neighbor_id = bf.bf_nid THEN 1 ELSE 0 END, 0) AS BIGINT) AS bf_hit
FROM top t LEFT JOIN bf USING (query_id)
"""


# CSV round-trip under adversarial content (q_s11_csv_roundtrip): the
# oracle applies the SAME decoration (comma + quote + embedded newline)
# to the original table and never reads the CSV — equality proves
# Spark's CSV quoting/escaping survived all three. chr(10) = \n so the
# SQL literal matches the Spark F.lit string byte for byte.
ORACLES["s11_csv_roundtrip"] = """
WITH deco AS (
  SELECT doc_id, text || ', "q"' || chr(10) || 'x' AS text, lang, source
  FROM documents
)
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))) AS BIGINT) AS ws_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS min_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_id,
       CAST(SUM(CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % 2147483647) AS BIGINT) AS text_checksum
FROM deco
GROUP BY lang, source
"""


# CCNet-style bigram-LM quality score (mirror of q_text_lm_score /
# scoring.lm_score_table): stupid-backoff bigram model trained on the
# quality_score >= 50 slice, every doc scored by mean scaled bigram
# probability. All-integer arithmetic (// is BIGINT floor division on
# positive operands, matching Spark's `div`), so no float summation-
# order divergence is possible. range(1, len(ws)) is 1-based and
# end-exclusive -> pairs (1,2)..(n-1,n), empty for docs under 2 words
# (both engines drop those docs identically).
ORACLES["text_lm_score"] = f"""
WITH ws AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws,
         {_QUALITY_EXPR} AS q
  FROM documents
), uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
  FROM (SELECT unnest(ws) AS w FROM ws WHERE q >= 50) GROUP BY w
), tot AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS t_tokens FROM uni
), bi AS (
  SELECT ngram, CAST(COUNT(*) AS BIGINT) AS c2
  FROM (
    SELECT unnest(list_transform(range(1, len(ws)),
                                 i -> ws[i] || ' ' || ws[i + 1])) AS ngram
    FROM ws WHERE q >= 50
  ) GROUP BY ngram
), bi_p AS (
  SELECT bi.ngram, (1000000 * bi.c2) // uni.c1 AS p2
  FROM bi JOIN uni ON string_split(bi.ngram, ' ')[1] = uni.w
), backoff AS (
  SELECT w AS w2, (2 * 1000000 * c1) // (5 * (SELECT t_tokens FROM tot)) AS b1
  FROM uni
), doc_bg AS (
  SELECT doc_id, lang, ngram, CAST(COUNT(*) AS BIGINT) AS m,
         string_split(ngram, ' ')[2] AS w2
  FROM (
    SELECT doc_id, lang,
           unnest(list_transform(range(1, len(ws)),
                                  i -> ws[i] || ' ' || ws[i + 1])) AS ngram
    FROM ws
  ) GROUP BY 1, 2, 3
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
       CAST(SUM(m) AS BIGINT) AS n_bigrams,
       CAST(SUM(CASE WHEN bi_p.p2 IS NULL THEN m ELSE 0 END) AS BIGINT) AS oov_bigrams,
       CAST(SUM(m * COALESCE(bi_p.p2, backoff.b1, 0)) AS BIGINT) AS sum_p,
       CAST(SUM(m * COALESCE(bi_p.p2, backoff.b1, 0)) // SUM(m) AS BIGINT) AS lm_score
FROM doc_bg
LEFT JOIN bi_p USING (ngram)
LEFT JOIN backoff USING (w2)
GROUP BY 1, 2
"""

# fastText-style hashed linear classifier (mirror of
# q_text_classifier_score / scoring.hashed_linear_scores): token ->
# 32-bit md5-prefix bucket mod 256 (portable cross-engine),
# weight = LCG(bucket) in [-1000, 1000], doc score = sum of weights
# with multiplicity, label = sign.
ORACLES["text_classifier_score"] = """
WITH tok AS (
  SELECT doc_id, lang,
         CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % 256 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM (
    SELECT doc_id, lang,
           unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS w
    FROM documents
  ) GROUP BY 1, 2, 3
), model AS (
  SELECT b AS bucket, (b * 1103515245 + 12345) % 2001 - 1000 AS weight
  FROM (SELECT unnest(range(0, 256)) AS b)
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
       CAST(SUM(m) AS BIGINT) AS n_tokens,
       CAST(SUM(m * weight) AS BIGINT) AS score,
       CAST(CASE WHEN SUM(m * weight) >= 0 THEN 1 ELSE 0 END AS BIGINT) AS label
FROM tok JOIN model USING (bucket)
GROUP BY 1, 2
"""

# Crawl-graph PageRank (mirror of q_graph_pagerank / graph.pagerank):
# 3 unrolled integer-exact iterations, damping 85/100, SCALE 10^6.
# // is BIGINT floor division on positive operands = Spark `div`;
# (15*SCALE)//100 = 150000 is the teleport base. Dangling mass drops
# (classic simplification, documented in graph.py); column is pr_rank
# because RANK is a window keyword.
ORACLES["graph_pagerank"] = """
WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
targets AS (
  SELECT source AS src, (doc_id * 31 + 7) % (SELECT n FROM tot) AS t FROM documents
  UNION ALL
  SELECT source AS src, (doc_id * 17 + 3) % (SELECT n FROM tot) AS t FROM documents
  UNION ALL
  SELECT source AS src, (doc_id * 13 + 5) % (SELECT n FROM tot) AS t
  FROM documents WHERE doc_id % 7 = 0
), edges AS (
  SELECT tg.src, d.source AS dst, CAST(COUNT(*) AS BIGINT) AS m
  FROM targets tg JOIN documents d ON tg.t = d.doc_id
  WHERE tg.src <> d.source
  GROUP BY 1, 2
), outw AS (
  SELECT src, CAST(SUM(m) AS BIGINT) AS out_w FROM edges GROUP BY 1
), nodes AS (SELECT DISTINCT source AS node FROM documents),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
c1 AS (
  SELECT e.dst AS node, SUM((r0.r * e.m) // o.out_w) AS s
  FROM edges e JOIN outw o USING (src) JOIN r0 ON e.src = r0.node
  GROUP BY 1
), r1 AS (
  SELECT n.node, CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN c1 c USING (node)
), c2 AS (
  SELECT e.dst AS node, SUM((r1.r * e.m) // o.out_w) AS s
  FROM edges e JOIN outw o USING (src) JOIN r1 ON e.src = r1.node
  GROUP BY 1
), r2 AS (
  SELECT n.node, CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN c2 c USING (node)
), c3 AS (
  SELECT e.dst AS node, SUM((r2.r * e.m) // o.out_w) AS s
  FROM edges e JOIN outw o USING (src) JOIN r2 ON e.src = r2.node
  GROUP BY 1
), r3 AS (
  SELECT n.node, CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN c3 c USING (node)
)
SELECT r3.node AS source,
       CAST(COALESCE(o.out_w, 0) AS BIGINT) AS out_w,
       r3.r AS pr_rank
FROM r3 LEFT JOIN outw o ON r3.node = o.src
"""

# Mass-conserving PageRank (mirror of q_graph_pagerank_conserve /
# graph.pagerank_conserving): same edge derivation, but un-delivered
# mass (dangling + per-edge floor loss, ONE scalar L = n·SCALE − Σs)
# is redistributed L//n to all plus +1 to the first L%n nodes in node
# order, and the 85/100 damping uses largest-remainder (Hamilton)
# apportionment — Σ rank == n_nodes·10^6 exactly after every
# iteration. The three iterations are generated, not hand-unrolled.


def _pr_conserve_iter(i: int) -> str:
    # MATERIALIZED throughout: s{i}/d{i}/r{i} are each referenced more
    # than once (scalar subqueries + the next round), and DuckDB's
    # default inlining re-expands the whole chain per reference —
    # measured minutes for a 20-node domain before the fix (the same
    # exponential-CTE disease the BPE oracle hit)
    p = i - 1
    return f"""c{i} AS MATERIALIZED (
  SELECT e.dst AS node, SUM((r.r * e.m) // o.out_w) AS s
  FROM edges e JOIN outw o USING (src) JOIN r{p} r ON e.src = r.node
  GROUP BY 1
), s{i} AS MATERIALIZED (
  SELECT n.node, CAST(COALESCE(c.s, 0) AS BIGINT) AS s
  FROM nodes n LEFT JOIN c{i} c USING (node)
), l{i} AS MATERIALIZED (
  SELECT (SELECT total FROM tot2) - SUM(s) AS loss FROM s{i}
), x{i} AS MATERIALIZED (
  SELECT node, s + (SELECT loss FROM l{i}) // (SELECT nn FROM tot2)
       + CASE WHEN row_number() OVER (ORDER BY node)
              <= (SELECT loss FROM l{i}) % (SELECT nn FROM tot2)
         THEN 1 ELSE 0 END AS x
  FROM s{i}
), d{i} AS MATERIALIZED (
  SELECT node, (85 * x) // 100 AS d, (85 * x) % 100 AS rem FROM x{i}
), r{i} AS MATERIALIZED (
  SELECT node, CAST(150000 + d + CASE WHEN
           row_number() OVER (ORDER BY rem DESC, node)
           <= (SELECT SUM(rem) FROM d{i}) // 100
         THEN 1 ELSE 0 END AS BIGINT) AS r
  FROM d{i}
)"""


ORACLES["graph_pagerank_conserve"] = (
    """
WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
targets AS (
  SELECT source AS src, (doc_id * 31 + 7) % (SELECT n FROM tot) AS t FROM documents
  UNION ALL
  SELECT source AS src, (doc_id * 17 + 3) % (SELECT n FROM tot) AS t FROM documents
  UNION ALL
  SELECT source AS src, (doc_id * 13 + 5) % (SELECT n FROM tot) AS t
  FROM documents WHERE doc_id % 7 = 0
), edges AS MATERIALIZED (
  SELECT tg.src, d.source AS dst, CAST(COUNT(*) AS BIGINT) AS m
  FROM targets tg JOIN documents d ON tg.t = d.doc_id
  WHERE tg.src <> d.source
  GROUP BY 1, 2
), outw AS MATERIALIZED (
  SELECT src, CAST(SUM(m) AS BIGINT) AS out_w FROM edges GROUP BY 1
), nodes AS MATERIALIZED (SELECT DISTINCT source AS node FROM documents),
tot2 AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS nn,
         CAST(COUNT(*) * 1000000 AS BIGINT) AS total
  FROM nodes
),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
"""
    + ",\n".join(_pr_conserve_iter(i) for i in (1, 2, 3))
    + """
SELECT r3.node AS source,
       CAST(COALESCE(o.out_w, 0) AS BIGINT) AS out_w,
       r3.r AS pr_rank
FROM r3 LEFT JOIN outw o ON r3.node = o.src
"""
)

# 1-D watershed basins (mirror of q_g5_watershed_basins): per-user
# hourly profile, basin starts at run start, axis gap, or a STRICT
# valley between contiguous neighbors (the minimum joins the right
# basin; plateau valleys never cut; a decline into a gap is a run
# tail, not a valley). Reference analog: distance-transform watershed,
# /root/reference/src/detect.py:40-47, degenerated to the 1-D profile.
ORACLES["g5_watershed_basins"] = """
WITH prof AS (
  SELECT user_id, CAST(extract(hour FROM ts) AS BIGINT) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), flagged AS (
  SELECT user_id, hour, n,
         CASE WHEN lag(hour) OVER w IS NULL
               OR hour - lag(hour) OVER w != 1
               OR (lag(n) OVER w > n AND n < lead(n) OVER w
                   AND lead(hour) OVER w = hour + 1)
              THEN 1 ELSE 0 END AS new_basin
  FROM prof
  WINDOW w AS (PARTITION BY user_id ORDER BY hour)
), basins AS (
  SELECT user_id, hour, n,
         CAST(SUM(new_basin) OVER (PARTITION BY user_id ORDER BY hour)
              AS BIGINT) AS basin
  FROM flagged
)
SELECT user_id, basin,
       CAST(MIN(hour) AS BIGINT) AS start_hour,
       CAST(MAX(hour) AS BIGINT) AS end_hour,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(MAX(n) AS BIGINT) AS peak,
       CAST(SUM(n) AS BIGINT) AS mass
FROM basins GROUP BY 1, 2
"""

# Train/eval split-leakage audit (mirror of q_t12_split_leakage): the
# verified near-dup pair table (dedup_lsh_verified's own SQL, nested
# verbatim as a CTE so the two stay in lockstep) joined to a naive
# doc-level md5 % 3 split; off-diagonal (split_lo != split_hi) cells
# are leaked pairs across the split boundary.
ORACLES["t12_split_leakage"] = f"""
WITH vp AS (
{ORACLES["dedup_lsh_verified"]}
), sp AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 3 AS BIGINT) AS split
  FROM documents
)
SELECT LEAST(a.split, b.split) AS split_lo,
       GREATEST(a.split, b.split) AS split_hi,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM vp JOIN sp a ON vp.id_a = a.doc_id
        JOIN sp b ON vp.id_b = b.doc_id
GROUP BY 1, 2
"""


# BPE vocabulary learning (mirror of q_text_bpe_vocab / bpe.learn_bpe):
# word-type frequency table -> SEP-bracketed char tokenization + EOW
# (chr 30) -> k rounds of (pair count weighted by word freq, argmax
# with cnt DESC / t1 / t2 tie-break, literal left-to-right replace).
# replace()'s non-overlapping left-to-right scan IS BPE's greedy merge
# rule on both engines; the bracketing chr(31) separators make a pair
# match always consume whole symbols. Iterations generated, not
# hand-unrolled. DuckDB needs the 'g' flag on regexp_replace (its
# default replaces only the first occurrence; Spark replaces all).


def _bpe_iter(i: int) -> str:
    p = i - 1
    # MATERIALIZED is load-bearing: each w{i} is referenced twice
    # (p{i+1} and w{i+1}), so DuckDB's default CTE inlining copies the
    # whole chain exponentially — 2^8 base scans exhausts the fd limit.
    # The merge is a list_reduce fold (same greedy rule as
    # bpe.merge_pair): plain replace() would skip consecutive pair
    # occurrences (shared boundary separator). chr(17) is the
    # transient just-merged mark, stripped at the end.
    return f"""p{i} AS MATERIALIZED (
  SELECT t1, t2, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT freq, unnest(s[2:len(s)-2]) AS t1, unnest(s[3:len(s)-1]) AS t2
    FROM (SELECT string_split(tok, chr(31)) AS s, freq FROM w{p})
  ) GROUP BY 1, 2
), b{i} AS MATERIALIZED (
  SELECT t1, t2, cnt FROM p{i} ORDER BY cnt DESC, t1, t2 LIMIT 1
), w{i} AS MATERIALIZED (
  SELECT word, freq,
    replace(list_reduce(
      list_prepend(chr(31), list_filter(string_split(tok, chr(31)),
                                        t -> t <> '')),
      (acc, x) -> CASE
        WHEN ends_with(acc, chr(31) || bt1 || chr(31)) AND x = bt2
        THEN substr(acc, 1, length(acc) - length(bt1) - 1)
             || bt1 || bt2 || chr(17) || chr(31)
        ELSE acc || x || chr(31) END
    ), chr(17), '') AS tok
  FROM w{p} CROSS JOIN (SELECT t1 AS bt1, t2 AS bt2 FROM b{i}) _b{i}
)"""


_BPE_MERGES = 8


def _bpe_chain(doc_source: str) -> str:
    """WITH-chain prefix: word-type table over ``doc_source`` (a table
    name or parenthesized subquery exposing a ``text`` column), char+EOW
    tokenization, and the 8 generated merge iterations (w8 = final
    per-word tokenization)."""
    return (
        r"""
WITH wf AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                              x -> x <> '')) AS word
    FROM """ + doc_source + r"""
  ) GROUP BY 1
), w0 AS MATERIALIZED (
  SELECT word, freq,
         chr(31) || regexp_replace(word, '(.)', '\1' || chr(31), 'g')
                 || chr(30) || chr(31) AS tok
  FROM wf
),
"""
        + ",\n".join(_bpe_iter(i) for i in range(1, _BPE_MERGES + 1))
    )


_BPE_CHAIN = _bpe_chain("documents")

# PPS-sampled doc source for the sampled learn (mirror of
# q_text_bpe_vocab_sampled): t3's weighted-arm predicate, u = first-8-hex
# md5(doc_id || 'bpe'), selected iff u*W < 120*(n_chars+1)*2^32, exact
# HUGEINT cross-multiplication
_BPE_SAMPLE_SOURCE = """(
  SELECT text FROM documents,
    (SELECT CAST(SUM(n_chars + 1) AS HUGEINT) AS w_total FROM documents) tot
  WHERE CAST(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 'bpe')), 1, 8)) AS BIGINT) AS HUGEINT)
          * w_total
        < CAST(120 AS HUGEINT) * CAST(n_chars + 1 AS HUGEINT) * CAST(4294967296 AS HUGEINT)
)"""

ORACLES["text_bpe_vocab"] = (
    _BPE_CHAIN
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT) AS merge_rank, t1 AS left_sym,"
        f" t2 AS right_sym, cnt AS pair_count FROM b{i}"
        for i in range(1, _BPE_MERGES + 1)
    )
)

ORACLES["text_bpe_vocab_sampled"] = (
    _bpe_chain(_BPE_SAMPLE_SOURCE)
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT) AS merge_rank, t1 AS left_sym,"
        f" t2 AS right_sym, cnt AS pair_count FROM b{i}"
        for i in range(1, _BPE_MERGES + 1)
    )
)

# BPE apply (mirror of q_text_bpe_apply / bpe.apply_bpe_token_counts):
# the chain re-learns the identical merge sequence, then the final
# per-word tokenization joins back to per-(doc, word) multiplicities.
# Token count includes the EOW symbol (merged or standalone), same
# convention both engines.
ORACLES["text_bpe_apply"] = (
    _BPE_CHAIN
    + f"""
, wtok AS MATERIALIZED (
  SELECT word,
         CAST(len(list_filter(string_split(tok, chr(31)), x -> x <> ''))
              AS BIGINT) AS nt
  FROM w{_BPE_MERGES}
), dw AS (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS m FROM (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                              x -> x <> '')) AS word
    FROM documents
  ) GROUP BY 1, 2
)
SELECT CAST(dw.doc_id AS BIGINT) AS doc_id,
       CAST(SUM(m * nt) AS BIGINT) AS n_tokens_bpe
FROM dw JOIN wtok USING (word) GROUP BY 1
"""
)


# Count-Min sketch (mirror of q_text_cms_sketch / textops.cms_sketch):
# 4 md5-row-salted 60-bit fingerprints mod 64 over whitespace tokens;
# the d x w counter matrix groups to <= 256 rows. Same fingerprint64
# convention as the HLL oracle.
ORACLES["text_cms_sketch"] = r"""
WITH tok AS (
  SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                            x -> x <> '')) AS w
  FROM documents
), cells AS (
  SELECT r.i AS sketch_row,
         CAST(concat('0x', substr(md5('cms' || r.i || ':' || w), 1, 15))
              AS BIGINT) % 64 AS bucket
  FROM tok CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) r
)
SELECT CAST(sketch_row AS BIGINT) AS sketch_row,
       CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM cells GROUP BY 1, 2
"""

# Heavy-hitter estimates FROM the CMS (mirror of
# q_text_cms_heavy_hitters): exact top-20 words as the candidate set,
# estimate = min over the 4 row-salted cells; overcount = est - exact
# is >= 0 by construction on both engines (the one-sided guarantee,
# value-hashed here at corpus scale).
ORACLES["text_cms_heavy_hitters"] = r"""
WITH tok AS (
  SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                            x -> x <> '')) AS w
  FROM documents
), cnt AS (
  SELECT w, COUNT(*) AS exact_n FROM tok GROUP BY 1
), top AS (
  SELECT w, exact_n FROM cnt ORDER BY exact_n DESC, w ASC LIMIT 20
), cells AS (
  SELECT r.i AS row,
         CAST(concat('0x', substr(md5('cms' || r.i || ':' || w), 1, 15))
              AS BIGINT) % 64 AS bucket
  FROM tok CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) r
), sketch AS (
  SELECT row, bucket, COUNT(*) AS cnt FROM cells GROUP BY 1, 2
), probe AS (
  SELECT t.w, t.exact_n, r.i AS row,
         CAST(concat('0x', substr(md5('cms' || r.i || ':' || t.w), 1, 15))
              AS BIGINT) % 64 AS bucket
  FROM top t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) r
)
SELECT p.w AS word,
       CAST(p.exact_n AS BIGINT) AS exact_n,
       CAST(MIN(s.cnt) AS BIGINT) AS est_n,
       CAST(MIN(s.cnt) - p.exact_n AS BIGINT) AS overcount
FROM probe p JOIN sketch s ON s.row = p.row AND s.bucket = p.bucket
GROUP BY p.w, p.exact_n
"""


# BM25 eval-prompt retrieval (mirror of q_text_bm25_topk): probes are
# the first 5 docs' first 8 normalized words; the (k1=1.2, b=0.75)
# saturation and the rational idf surrogate (N+1)/(df+1) are folded
# into one BIGINT floor division per (doc, term) — identical operand
# order to the Spark side so `//` and `div` truncate the same value.
# N and T derive from the doclen CTE on both engines (docs with >= 1
# token), never from a separate COUNT(*) that empty-text rows could
# skew on one side only.
ORACLES["text_bm25_topk"] = r"""
WITH tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(list_filter(regexp_split_to_array(
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                               '\s+', ' ', 'g')), '\s+'), x -> x <> '')) AS w
  FROM documents
), pw AS (
  SELECT CAST(doc_id AS BIGINT) AS qid,
         list_filter(regexp_split_to_array(
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                               '\s+', ' ', 'g')), '\s+'), x -> x <> '')[1:8] AS ws
  FROM documents WHERE doc_id < 5
), probe AS (
  SELECT DISTINCT qid, unnest(ws) AS w FROM pw
), doclen AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY 1
), scal AS (
  SELECT CAST(SUM(dl) AS BIGINT) AS tt, CAST(COUNT(*) AS BIGINT) AS nn
  FROM doclen
), tf AS (
  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tfc FROM tok
  WHERE w IN (SELECT w FROM probe) GROUP BY 1, 2
), dft AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS dft FROM tf GROUP BY 1
), contrib AS (
  SELECT tf.doc_id, tf.w,
         (44000 * (s.nn + 1) * tf.tfc * s.tt)
           // ((d.dft + 1) * (20 * tf.tfc * s.tt + 6 * s.tt
                              + 18 * l.dl * s.nn)) AS contrib
  FROM tf
  CROSS JOIN scal s
  JOIN dft d ON tf.w = d.w
  JOIN doclen l ON tf.doc_id = l.doc_id
), score AS (
  SELECT p.qid, c.doc_id, CAST(SUM(c.contrib) AS BIGINT) AS score_s
  FROM contrib c JOIN probe p ON c.w = p.w
  GROUP BY 1, 2
), ranked AS (
  SELECT qid, doc_id, score_s,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY score_s DESC, doc_id ASC) AS rnk
  FROM score
)
SELECT qid, CAST(rnk AS INTEGER) AS rnk, doc_id, score_s
FROM ranked WHERE rnk <= 10
"""


# Context-window chunking (mirror of q_text_chunk_windows): width 32,
# stride 24 over the normalized word list. range(0, n, 24) is stop-
# EXCLUSIVE, which equals Spark's stop-inclusive sequence(0, n-1, 24)
# start set exactly (largest multiple of 24 strictly below n);
# DuckDB list slicing toks[a:b] is 1-based end-inclusive and clamps at
# the list end exactly like F.slice(toks, a, 32) near the tail. The
# chunk fingerprint is the portable 60-bit md5-prefix of the
# space-joined slice (textops.fingerprint64's form); head/tail read
# single elements so the slice is evaluated once per row on both
# engines.
_CHUNK_SQL = r"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list_filter(regexp_split_to_array(
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                               '\s+', ' ', 'g')), '\s+'), x -> x <> '') AS toks
  FROM documents
), nz AS (
  SELECT doc_id, toks FROM toks WHERE len(toks) > 0
), win AS (
  SELECT doc_id, toks, CAST(unnest(range(0, len(toks), 24)) AS BIGINT) AS start
  FROM nz
)
SELECT doc_id,
       start // 24 AS win_id,
       CAST(LEAST(32, len(toks) - start) AS BIGINT) AS n_toks,
       toks[CAST(start + 1 AS INTEGER)] AS head,
       toks[CAST(start + LEAST(32, len(toks) - start) AS INTEGER)] AS tail,
       CAST(concat('0x', substr(md5(array_to_string(
         toks[CAST(start + 1 AS INTEGER):CAST(start + 32 AS INTEGER)], ' ')), 1, 15))
         AS BIGINT) AS fp
FROM win
"""

ORACLES["text_chunk_windows"] = _CHUNK_SQL


# Chunk-level boilerplate detection (mirror of q_dedup_chunk_boilerplate):
# the consume side of the chunk table — fingerprints of full 32-token
# windows spanning >= 2 distinct docs, with the same two-level
# (fp, doc) -> fp aggregation so the MIN-witness columns resolve
# identically under 60-bit fp collisions.
ORACLES["dedup_chunk_boilerplate"] = f"""
WITH cw AS ({_CHUNK_SQL}),
per_doc AS (
  SELECT fp, doc_id, CAST(COUNT(*) AS BIGINT) AS k,
         MIN(n_toks) AS mnt, MIN(head) AS mh, MIN(tail) AS mt
  FROM cw WHERE n_toks = 32 GROUP BY 1, 2
)
SELECT fp, CAST(SUM(k) AS BIGINT) AS n_occ,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(mnt) AS n_toks, MIN(mh) AS head, MIN(mt) AS tail
FROM per_doc GROUP BY fp HAVING COUNT(*) >= 2
"""


# Composed corpus-prep recipe (mirror of q_corpus_recipe): exact dedup,
# near-dup drop set (the _CC_CTES lsh_verified -> connected-components
# chain, reused verbatim), 3-shingle benchmark decontamination (reusing
# the chain's own `sh` shingle CTE), and the quality screen — with
# FIRST-DROPPING-STAGE attribution per lang. Stage drop sets are
# computed on the full corpus (independent-stages shape); precedence
# resolves docs multiple stages would kill. The eval slice itself is
# held_out first, so its self-overlap never reaches `contaminated` on
# either engine.
ORACLES["corpus_recipe"] = f"""
{_CC_CTES},
nd AS (
  SELECT id FROM reach GROUP BY id HAVING MIN(comp) <> id
), bench AS (
  SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 20 = 7
), cont AS (
  SELECT DISTINCT t.doc_id FROM (
    SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE doc_id % 20 <> 7
  ) t JOIN bench b ON t.shingle = b.shingle
), base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))) AS fp,
         {_QUALITY_EXPR} AS q,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                              x -> x <> '')) AS BIGINT) AS nt
  FROM documents
), withmin AS (
  SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS fp_min FROM base
), staged AS (
  SELECT lang, nt,
    CASE WHEN doc_id % 20 = 7 THEN 'held_out'
         WHEN doc_id <> fp_min THEN 'exact'
         WHEN doc_id IN (SELECT id FROM nd) THEN 'neardup'
         WHEN doc_id IN (SELECT doc_id FROM cont) THEN 'contaminated'
         WHEN q < 30 THEN 'low_quality'
         ELSE 'kept' END AS stage
  FROM withmin
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_in,
  CAST(SUM(CASE WHEN stage = 'held_out' THEN 1 ELSE 0 END) AS BIGINT) AS n_held_out,
  CAST(SUM(CASE WHEN stage = 'exact' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
  CAST(SUM(CASE WHEN stage = 'neardup' THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup,
  CAST(SUM(CASE WHEN stage = 'contaminated' THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
  CAST(SUM(CASE WHEN stage = 'low_quality' THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
  CAST(SUM(CASE WHEN stage = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(SUM(CASE WHEN stage = 'kept' THEN nt ELSE 0 END) AS BIGINT) AS tokens_kept
FROM staged GROUP BY lang
"""


# Quality-aware keeper policy (mirror of q_dedup_keeper_policy): per
# near-dup component, keeper = highest quality_score, ties to lowest
# id; one row per multi-or-single-member component present in the pair
# graph. Reuses the _CC_CTES chain verbatim.
ORACLES["dedup_keeper_policy"] = f"""
{_CC_CTES},
comp AS (
  SELECT CAST(id AS BIGINT) AS id, CAST(MIN(comp) AS BIGINT) AS component
  FROM reach GROUP BY id
), q AS (
  SELECT CAST(doc_id AS BIGINT) AS id, {_QUALITY_EXPR} AS q FROM documents
), ranked AS (
  SELECT c.component, c.id, q.q,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY q.q DESC, c.id ASC) AS rn
  FROM comp c JOIN q USING (id)
), counts AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
  FROM comp GROUP BY component
)
SELECT r.component, r.id AS keeper_id, r.q AS keeper_q, c.n_members
FROM ranked r JOIN counts c USING (component)
WHERE r.rn = 1
"""


# Authority-weighted sampling (mirror of q_t13_rank_weighted_sample):
# the conserving-PageRank oracle nested verbatim as a CTE (the same
# lockstep trick as t12's nested lsh_verified), its EXACT rank total as
# the weight denominator, and t7's portable integer PPS predicate in
# HUGEINT. Budget 2000 tokens, salt 'rank'.
ORACLES["t13_rank_weighted_sample"] = f"""
WITH pr AS MATERIALIZED (
{ORACLES["graph_pagerank_conserve"]}
), tr AS (
  SELECT CAST(SUM(pr_rank) AS BIGINT) AS total FROM pr
), base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                              x -> x <> '')) AS BIGINT) AS nt
  FROM documents
), ts AS (
  SELECT source, CAST(SUM(nt) AS BIGINT) AS t_s FROM base GROUP BY 1
), sel AS (
  SELECT b.source, p.pr_rank, b.nt
  FROM base b JOIN ts USING (source) JOIN pr p ON p.source = b.source
  WHERE CAST(CAST(concat('0x', substr(md5(CAST(b.doc_id AS VARCHAR) || 'rank'),
                         1, 8)) AS BIGINT) AS HUGEINT)
        * ts.t_s * (SELECT total FROM tr)
      < CAST(2000 AS HUGEINT) * p.pr_rank * 4294967296
)
SELECT source,
       CAST(MAX(pr_rank) AS BIGINT) AS pr_rank,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS tokens_sampled
FROM sel GROUP BY source
"""


# BPE fertility per language (mirror of q_text_bpe_fertility): the
# shared merge chain's final tokenization rolled up by (lang, word)
# multiplicities; fertility and compression as x1000 integer ratios.
ORACLES["text_bpe_fertility"] = (
    _BPE_CHAIN
    + f"""
, wtok AS MATERIALIZED (
  SELECT word,
         CAST(len(list_filter(string_split(tok, chr(31)), x -> x <> ''))
              AS BIGINT) AS nt,
         CAST(length(word) AS BIGINT) AS nc
  FROM w{_BPE_MERGES}
), dw AS (
  SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS m FROM (
    SELECT lang,
           unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                              x -> x <> '')) AS word
    FROM documents
  ) GROUP BY 1, 2
)
SELECT lang,
       CAST(SUM(m) AS BIGINT) AS n_words,
       CAST(SUM(m * nt) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(m * nt) * 1000 // SUM(m) AS BIGINT) AS fertility_milli,
       CAST(SUM(m * nc) * 1000 // SUM(m * nt) AS BIGINT) AS chars_per_token_milli
FROM dw JOIN wtok USING (word) GROUP BY lang
"""
)


def lm_tier_stats_sql() -> str:
    """Per-TIER lm_score stats over the synthetic LM-eval corpus (the
    ``documents`` view must expose a ``tier`` column — see
    corpus.text_corpus_arrow). Shared by tools/lm_eval.py --synthetic
    (the BENCH/LM.md measurement) and tests/test_lm_discrimination.py
    (the pinning test) so the two cannot silently diverge."""
    return f"""
WITH lm AS ({ORACLES['text_lm_score']}),
t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, tier,
             {_QUALITY_EXPR} AS quality FROM documents),
j AS (SELECT lm.*, t.tier, t.quality FROM lm JOIN t USING (doc_id))
SELECT tier,
       COUNT(*) AS n_docs,
       CAST(quantile_disc(lm_score, 0.25) AS BIGINT) AS p25,
       CAST(quantile_disc(lm_score, 0.50) AS BIGINT) AS p50,
       CAST(quantile_disc(lm_score, 0.75) AS BIGINT) AS p75,
       SUM(oov_bigrams) * 1.0 / SUM(n_bigrams) AS oov_rate,
       CAST(quantile_disc(quality, 0.50) AS BIGINT) AS q_p50
FROM j GROUP BY tier ORDER BY p50 DESC
"""
