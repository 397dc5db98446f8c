"""DuckDB oracle SQL — one ANSI-SQL equivalent per query in
medtype_spark.queries (omitted for iterative / engine-hash-specific
queries, which get the driver's rows-only check).

Doubles are rounded exactly as the Spark side rounds; every computed
column carries the same alias.
"""

from __future__ import annotations

from medtype_spark import FIXTURES
from medtype_spark.textstats.quality import LANG_MARKERS, STOPWORDS

_STOPLIST = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"

_TOKS = r"list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')"

ORACLES: dict[str, str] = {}

ORACLES["q01_pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""

ORACLES["q03_top_order_per_cust"] = """
SELECT o_custkey, o_orderkey, o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
"""

ORACLES["q04_cust_nation_stats"] = """
SELECT n_name,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price,
       count(DISTINCT c_custkey) AS n_customers
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

ORACLES["q05_order_fill_class"] = """
WITH lk AS (SELECT DISTINCT l_orderkey FROM lineitem)
SELECT CASE WHEN o_orderkey IS NOT NULL AND l_orderkey IS NOT NULL THEN 'both'
            WHEN o_orderkey IS NOT NULL THEN 'order_only'
            ELSE 'lineitem_only' END AS match_class,
       count(*) AS n
FROM orders FULL OUTER JOIN lk ON o_orderkey = l_orderkey
GROUP BY 1
"""

ORACLES["q06_semi_anti_join"] = """
SELECT 'semi' AS side, c_custkey AS key, c_mktsegment AS attr
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
UNION ALL
SELECT 'anti' AS side, o_orderkey AS key, o_orderstatus AS attr
FROM orders
WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
"""

ORACLES["q08_token_topk"] = f"""
SELECT token, n FROM (
  SELECT token, count(*) AS n,
         row_number() OVER (ORDER BY count(*) DESC, token) AS rn
  FROM (SELECT unnest({_TOKS}) AS token FROM documents)
  GROUP BY token
) WHERE rn <= 20
"""

ORACLES["q10_interval_overlap_counts"] = """
WITH e AS (SELECT user_id, event_id AS eid, ts AS s,
                  ts + INTERVAL 5 MINUTE AS e FROM events)
SELECT a.user_id, count(*) AS n_overlaps
FROM e a JOIN e b
  ON a.user_id = b.user_id AND a.eid < b.eid
  AND b.s <= a.e AND b.e >= a.s
GROUP BY a.user_id
"""

ORACLES["q11_sliding_stats"] = """
WITH e AS (SELECT *, CAST(round(value * 100) AS BIGINT) AS cents FROM events),
stats AS (
  SELECT user_id, event_id, ts,
         CAST(sum(cents) OVER w AS BIGINT) AS sum_cents_200,
         count(*) OVER w AS n_window
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 199 PRECEDING AND CURRENT ROW)
),
-- right-side tie reduction: one click per (user_id, ts), max event_id
clicks AS (
  SELECT user_id, ts, max(event_id) AS last_click_id
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, ts
)
-- DuckDB's NATIVE as-of join: independent implementation of the
-- at-or-before-latest semantics the Spark side builds from
-- union-tag + running last() (operators/asof.py)
-- -1 sentinel for no-prior-click keeps the column a non-nullable
-- BIGINT on both engines (NULL would pandas-decay to NaN/None)
SELECT s.user_id, s.event_id, s.sum_cents_200, s.n_window,
       COALESCE(c.last_click_id, -1) AS last_click_id,
       COALESCE(date_diff('microsecond', c.ts, s.ts), -1) AS since_click_us
FROM stats s ASOF LEFT JOIN clicks c
  ON s.user_id = c.user_id AND s.ts >= c.ts
"""

ORACLES["q12_micro_macro"] = """
WITH per_group AS (
  SELECT l_linestatus,
         sum(CASE WHEN l_returnflag = 'R' AND l_discount > 0.05 THEN 1 ELSE 0 END) AS tp,
         sum(CASE WHEN l_returnflag <> 'R' AND l_discount > 0.05 THEN 1 ELSE 0 END) AS fp,
         sum(CASE WHEN l_returnflag = 'R' AND l_discount <= 0.05 THEN 1 ELSE 0 END) AS fn
  FROM lineitem
  GROUP BY l_linestatus
  HAVING (tp + fp) > 0 OR (tp + fn) > 0
), prf AS (
  SELECT *,
         CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp::DOUBLE / (tp + fp) END AS p,
         CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp::DOUBLE / (tp + fn) END AS r
  FROM per_group
), prf2 AS (
  SELECT *, CASE WHEN p + r = 0 THEN 0.0 ELSE 2 * p * r / (p + r) END AS f
  FROM prf
)
SELECT 'micro' AS agg_mode,
       CAST(sum(tp) AS BIGINT) AS tp, CAST(sum(fp) AS BIGINT) AS fp,
       CAST(sum(fn) AS BIGINT) AS fn,
       round(CASE WHEN sum(tp) + sum(fp) = 0 THEN 0.0
                  ELSE sum(tp)::DOUBLE / (sum(tp) + sum(fp)) END, 6) AS precision,
       round(CASE WHEN sum(tp) + sum(fn) = 0 THEN 0.0
                  ELSE sum(tp)::DOUBLE / (sum(tp) + sum(fn)) END, 6) AS recall,
       round(CASE WHEN (CASE WHEN sum(tp)+sum(fp)=0 THEN 0.0 ELSE sum(tp)::DOUBLE/(sum(tp)+sum(fp)) END
                 + CASE WHEN sum(tp)+sum(fn)=0 THEN 0.0 ELSE sum(tp)::DOUBLE/(sum(tp)+sum(fn)) END) = 0
                  THEN 0.0
                  ELSE 2 * (CASE WHEN sum(tp)+sum(fp)=0 THEN 0.0 ELSE sum(tp)::DOUBLE/(sum(tp)+sum(fp)) END)
                         * (CASE WHEN sum(tp)+sum(fn)=0 THEN 0.0 ELSE sum(tp)::DOUBLE/(sum(tp)+sum(fn)) END)
                       / ((CASE WHEN sum(tp)+sum(fp)=0 THEN 0.0 ELSE sum(tp)::DOUBLE/(sum(tp)+sum(fp)) END)
                        + (CASE WHEN sum(tp)+sum(fn)=0 THEN 0.0 ELSE sum(tp)::DOUBLE/(sum(tp)+sum(fn)) END)) END, 6) AS fscore
FROM prf2
UNION ALL
SELECT 'macro', CAST(sum(tp) AS BIGINT), CAST(sum(fp) AS BIGINT),
       CAST(sum(fn) AS BIGINT),
       round(avg(p), 6), round(avg(r), 6), round(avg(f), 6)
FROM prf2
"""

ORACLES["q13_clean_text"] = rf"""
WITH cleaned AS (
  SELECT doc_id, source, text,
         replace(replace(replace(
             regexp_replace(text, '[^[:ascii:]]', '?', 'g'),
           chr(10), ' '), '|', ' '), chr(39), ' ') AS ct
  FROM documents
),
-- CCNet-style corpus-level duplicate-line removal over 8-token chunk
-- lines (dedup/lines.py): globally-first (doc_id, line_no) occurrence
-- of each line >= 20 chars is kept, shorter lines always kept
tk13 AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
l13 AS (
  SELECT doc_id, s.line_no AS line_no, s.ln AS ln FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(0, greatest(CAST(ceil(len(tk) / 8.0) AS INT), 1)),
             i -> {{'line_no': i,
                    'ln': array_to_string(tk[i*8+1 : i*8+8], ' ')}})) AS s
    FROM tk13)
),
mk13 AS (
  SELECT doc_id, line_no, ln,
         (length(ln) < 20 OR
          row_number() OVER (PARTITION BY md5(ln)
                             ORDER BY doc_id, line_no) = 1) AS keep
  FROM l13
),
red13 AS (
  SELECT doc_id,
         md5(COALESCE(string_agg(ln, chr(10) ORDER BY line_no)
                        FILTER (WHERE keep), '')) AS line_dedup_md5,
         count(*) AS n_lines,
         count(*) FILTER (WHERE NOT keep) AS n_dup_lines_removed
  FROM mk13 GROUP BY doc_id
)
SELECT doc_id,
       md5(ct) AS clean_md5,
       -- collapse_char(ct, ' ') without lookbehind (RE2): (1) drop a
       -- lone trailing space not preceded by a space, (2) drop the
       -- leading run, (3) collapse interior runs to one space.
       -- Differentially verified against the reference char loop.
       md5(regexp_replace(regexp_replace(regexp_replace(ct,
             '([^ ]|^) $', '\1'), '^ +', ''), '  +', ' ', 'g'))
         AS collapsed_md5,
       replace(regexp_replace('en.wikipedia.org/wiki/' || source || ' page',
                              '^en\.wikipedia\.org/wiki/', ''),
               ' ', '_') AS norm_link,
       -- canonical URL per functions/urls.py contract, stated BY HAND
       -- per messy-URL variant (not a replay of the regex pipeline):
       -- v0 HTTP://WWW.SiteH.COM:80/a/ID/ -> case, www, :80, trailing /
       -- v1 ...co.uk:443/...?x=1&y=2#frag -> :443, fragment dropped
       -- v2 http://user:pw@SiteH.com/a/ID? -> userinfo, bare ? dropped
       -- v3 :8443 non-default port KEPT
       -- v4 root path / kept    v5 trailing / stripped from /a/ID/b/
       CASE doc_id % 6
         WHEN 0 THEN 'http://site'  || (doc_id % 40) || '.com/a/' || doc_id
         WHEN 1 THEN 'https://site' || (doc_id % 40) || '.co.uk/a/' || doc_id || '?x=1&y=2'
         WHEN 2 THEN 'http://site'  || (doc_id % 40) || '.com/a/' || doc_id
         WHEN 3 THEN 'https://site' || (doc_id % 40) || '.com:8443/a/' || doc_id
         WHEN 4 THEN 'http://site'  || (doc_id % 40) || '.co.uk/'
         ELSE 'https://site' || (doc_id % 40) || '.com/a/' || doc_id || '/b'
       END AS canon_url,
       -- registrable domain: co.uk is a two-level public suffix
       -- (last 3 labels); bare .com hosts are already registrable
       CASE WHEN doc_id % 6 IN (1, 4)
            THEN 'site' || (doc_id % 40) || '.co.uk'
            ELSE 'site' || (doc_id % 40) || '.com'
       END AS reg_domain,
       red13.line_dedup_md5,
       red13.n_lines,
       red13.n_dup_lines_removed,
       -- PII scrub checked against GROUND TRUTH: the base corpus has
       -- no digits or '@' (verified at every sf), the laced fragments
       -- are constructed per doc_id, so the expected scrubbed text is
       -- stated by construction rather than replaying the regexes
       md5(CASE doc_id % 4
             WHEN 0 THEN text || ' reach me at <EMAIL> now'
             WHEN 1 THEN text || ' call <PHONE> soon'
             WHEN 2 THEN text || ' server at <IP> up'
             ELSE text END) AS scrubbed_md5,
       CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS n_pii_email,
       CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 0 END AS n_pii_ipv4,
       CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS n_pii_phone
FROM cleaned JOIN red13 USING (doc_id)
"""

ORACLES["q14_exact_dedup"] = f"""
WITH ex AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
         count(*) OVER (PARTITION BY md5(text)) AS group_size
  FROM documents
),
xtoks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
xdg AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(tk) >= 8
             THEN list_transform(range(1, len(tk) - 6),
                                 i -> array_to_string(tk[i : i + 7], ' '))
             ELSE []::VARCHAR[] END) AS gram
    FROM xtoks)
),
xdf AS (SELECT gram, count(*) AS doc_freq FROM xdg GROUP BY gram),
xper AS (
  SELECT doc_id,
         count(*)::BIGINT AS n_distinct_ngrams,
         sum(CASE WHEN doc_freq >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared_ngrams,
         max(doc_freq)::BIGINT AS max_ngram_doc_freq
  FROM xdg JOIN xdf USING (gram) GROUP BY doc_id
)
SELECT ex.doc_id, ex.canonical_id, ex.group_size,
       -- deterministic md5 hex-prefix split/sample (operators/sampling.py):
       -- thresholds cccd = round(0.8*16^4), e666 = round(0.9*16^4),
       -- 3333 = round(0.2*16^4); lexicographic hex compare == numeric
       CASE WHEN substring(md5(CAST(ex.doc_id AS VARCHAR)), 1, 4) < 'cccd' THEN 'train'
            WHEN substring(md5(CAST(ex.doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
            ELSE 'test' END AS split,
       (substring(md5('s1' || CAST(ex.doc_id AS VARCHAR)), 1, 4) < '3333')::INT AS in_sample,
       -- exactly-5-per-lang exemplars: rank within lang by
       -- (md5 bucket, doc_id), 0 = not an exemplar
       COALESCE(CASE WHEN ex5.rk <= 5 THEN ex5.rk::INT END, 0) AS exemplar_rank,
       COALESCE(x.n_distinct_ngrams, 0) AS n_distinct_ngrams,
       COALESCE(x.n_shared_ngrams, 0) AS n_shared_ngrams,
       CASE WHEN COALESCE(x.n_distinct_ngrams, 0) = 0 THEN 0.0
            ELSE round(x.n_shared_ngrams::DOUBLE / x.n_distinct_ngrams, 6)
       END AS shared_ngram_ratio,
       COALESCE(x.max_ngram_doc_freq, 0) AS max_ngram_doc_freq
FROM ex
LEFT JOIN xper x USING (doc_id)
JOIN (
  SELECT doc_id, row_number() OVER (
           PARTITION BY lang
           ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 4), doc_id
         ) AS rk
  FROM documents
) ex5 USING (doc_id)
"""

_SHINGLES3 = f"""
  toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
  sh AS (
    SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id,
             unnest(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                    ELSE list_transform(range(1, len(t) - 1),
                                        i -> array_to_string(t[i:i+2], ' '))
                    END) AS shingle
      FROM toks
    )
  )
"""

ORACLES["q15_minhash"] = f"""
WITH {_SHINGLES3},
mins AS (
  SELECT doc_id, h, min(md5(h || ':' || shingle)) AS mh
  FROM sh, (SELECT unnest(range(0, 8)) AS h)
  GROUP BY doc_id, h
)
SELECT doc_id, md5(string_agg(mh, '|' ORDER BY h)) AS sig_md5
FROM mins GROUP BY doc_id
"""

ORACLES["q16_ngram_jaccard"] = f"""
WITH {_SHINGLES3},
rare AS (
  SELECT doc_id, shingle FROM sh
  QUALIFY count(*) OVER (PARTITION BY shingle) <= 50
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM rare GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_inter
  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a, b,
       round(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter) >= 0.1
"""

def _textstats_sql() -> str:
    """q17_textstats: quality features + lang-id + fingerprint +
    Gopher-rule verdict joined on doc_id (component selects hoisted
    to one WITH)."""
    req_words = "[" + ", ".join(
        f"'{w}'" for w in ["the", "be", "to", "of", "and", "that", "have", "with"]
    ) + "]"
    hit_cols = []
    for lang in sorted(LANG_MARKERS):
        markers = "[" + ", ".join(f"'{w}'" for w in LANG_MARKERS[lang]) + "]"
        hit_cols.append(
            f"len(list_filter(toks, t -> list_contains({markers}, lower(t)))) AS h_{lang}"
        )
    case_branches = "\n".join(
        f"            WHEN h_{lang} = g THEN '{lang}'" for lang in sorted(LANG_MARKERS)
    )
    greatest = ", ".join(f"h_{lang}" for lang in sorted(LANG_MARKERS))
    return f"""
WITH base AS (
  SELECT doc_id, text, {_TOKS} AS toks,
         length(text) AS n_chars
  FROM documents
),
-- benchmark decontamination (dedup/crossdoc.py:decontaminate):
-- doc_id % 37 = 0 plays the held-out benchmark (-1); any other doc
-- sharing an 8-gram with it is contaminated (1), else clean (0)
cxg AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(toks) >= 8
             THEN list_transform(range(1, len(toks) - 6),
                                 i -> array_to_string(toks[i : i + 7], ' '))
             ELSE []::VARCHAR[] END) AS gram
    FROM base)
),
cxb AS (SELECT DISTINCT gram FROM cxg WHERE doc_id % 37 = 0),
cx AS (
  SELECT doc_id,
         CASE WHEN doc_id % 37 = 0 THEN -1
              WHEN EXISTS (SELECT 1 FROM cxg g JOIN cxb USING (gram)
                           WHERE g.doc_id = base.doc_id)
              THEN 1 ELSE 0 END AS contaminated
  FROM base
),
q AS (
  SELECT doc_id, n_chars,
         len(toks) AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
         round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE n_chars::DOUBLE / len(toks) END, 6) AS avg_token_len,
         round(CASE WHEN n_chars = 0 THEN 0.0
               ELSE (n_chars - length(regexp_replace(text, '[A-Za-z]', '', 'g')))::DOUBLE / n_chars END, 6) AS alpha_ratio,
         round(CASE WHEN n_chars = 0 THEN 0.0
               ELSE (n_chars - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE / n_chars END, 6) AS punct_ratio,
         round(CASE WHEN len(toks) = 0 THEN 0.0
               ELSE len(list_filter(toks, t -> list_contains({_STOPLIST}, lower(t))))::DOUBLE / len(toks) END, 6) AS stopword_ratio
  FROM base
),
hits AS (SELECT doc_id, {', '.join(hit_cols)} FROM base),
hg AS (SELECT *, greatest({greatest}) AS g FROM hits),
l AS (
  SELECT doc_id,
         CASE WHEN g = 0 THEN 'und'
{case_branches}
         END AS pred_lang
  FROM hg
),
f AS (
  SELECT doc_id,
         md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
             '\\s+', ' ', 'g'))) AS fingerprint
  FROM documents
),
graw AS (
  SELECT doc_id,
         len(toks) AS nt,
         list_sum(list_transform(toks, t -> length(t))) AS wc,
         len(regexp_extract_all(text, '#|…|\\.\\.\\.')) AS nsym,
         string_split(text, chr(10)) AS lines,
         len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS nalpha,
         len(list_filter({req_words}::VARCHAR[],
                         w -> list_contains(list_transform(toks, t -> lower(t)), w))) AS nreq
  FROM base
),
g2 AS (
  SELECT doc_id, nt, COALESCE(wc, 0) AS wc, nsym, nalpha, nreq,
         len(lines) AS nl,
         len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[•‣▪\\-\\*]'))) AS nbul,
         len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$'))) AS nell,
         len(lines) - len(list_distinct(lines)) AS ndup,
         COALESCE(list_sum(list_transform(lines, l -> length(l))), 0) AS lchars,
         COALESCE(list_sum(list_transform(lines, l -> length(l))), 0)
           - COALESCE(list_sum(list_transform(list_distinct(lines), l -> length(l))), 0) AS dchars
  FROM graw
),
g AS (
  SELECT doc_id,
         CASE WHEN nt = 0 THEN 0.0 ELSE round(wc::DOUBLE / nt, 6) END AS mean_word_len,
         CASE WHEN nt = 0 THEN 0.0 ELSE round(nsym::DOUBLE / nt, 6) END AS symbol_word_ratio,
         round(nbul::DOUBLE / nl, 6) AS bullet_line_ratio,
         round(nell::DOUBLE / nl, 6) AS ellipsis_line_ratio,
         CASE WHEN nt = 0 THEN 0.0 ELSE round(nalpha::DOUBLE / nt, 6) END AS alpha_word_ratio,
         nreq::INT AS n_req_stopwords,
         round(ndup::DOUBLE / nl, 6) AS dup_line_ratio,
         CASE WHEN lchars = 0 THEN 0.0 ELSE round(dchars::DOUBLE / lchars, 6) END AS dup_line_char_ratio,
         (nt >= 50 AND nt <= 100000
          AND wc >= 3 * nt AND wc <= 10 * nt
          AND 10 * nsym <= nt
          AND 10 * nbul <= 9 * nl
          AND 10 * nell <= 3 * nl
          AND 10 * nalpha >= 8 * nt
          AND nreq >= 2
          AND 10 * ndup <= 3 * nl
          AND (lchars = 0 OR 5 * dchars <= lchars))::INT AS gopher_pass
  FROM g2
),
rtoks AS (
  SELECT doc_id,
         list_transform(toks, t -> lower(t)) AS lt,
         COALESCE(list_sum(list_transform(toks, t -> length(t))), 0) AS wc
  FROM base
),
rgrams AS (
  SELECT doc_id, n, unnest(grams) AS gram FROM (
    SELECT doc_id, ns.n,
           CASE WHEN len(lt) >= ns.n
             THEN list_transform(range(1, len(lt) - ns.n + 2),
                                 i -> array_to_string(lt[i : i + ns.n - 1], ' '))
             ELSE []::VARCHAR[] END AS grams
    FROM rtoks, (VALUES (2), (3), (4), (5), (10)) AS ns(n)
  )
),
rcnt AS (
  SELECT doc_id, n, gram, count(*) AS cnt,
         count(*) * (length(gram) - (n - 1)) AS mass
  FROM rgrams GROUP BY doc_id, n, gram
),
rtopd AS (
  SELECT doc_id, n, mass,
         row_number() OVER (PARTITION BY doc_id, n ORDER BY cnt DESC, gram ASC) AS rn
  FROM rcnt
),
rper AS (
  SELECT c.doc_id, c.n,
         max(t.mass) AS top_mass,
         sum(CASE WHEN c.cnt > 1 THEN c.mass ELSE 0 END) AS dup_mass
  FROM rcnt c JOIN rtopd t ON c.doc_id = t.doc_id AND c.n = t.n AND t.rn = 1
  GROUP BY c.doc_id, c.n
),
rwide AS (
  SELECT doc_id,
         COALESCE(max(CASE WHEN n = 2 THEN top_mass END), 0) AS t2,
         COALESCE(max(CASE WHEN n = 3 THEN top_mass END), 0) AS t3,
         COALESCE(max(CASE WHEN n = 4 THEN top_mass END), 0) AS t4,
         COALESCE(max(CASE WHEN n = 5 THEN dup_mass END), 0) AS d5,
         COALESCE(max(CASE WHEN n = 10 THEN dup_mass END), 0) AS d10
  FROM rper GROUP BY doc_id
),
r AS (
  SELECT rt.doc_id,
         CASE WHEN wc = 0 THEN 0.0 ELSE round(COALESCE(t2, 0)::DOUBLE / wc, 6) END AS top_2gram_char_ratio,
         CASE WHEN wc = 0 THEN 0.0 ELSE round(COALESCE(t3, 0)::DOUBLE / wc, 6) END AS top_3gram_char_ratio,
         CASE WHEN wc = 0 THEN 0.0 ELSE round(COALESCE(t4, 0)::DOUBLE / wc, 6) END AS top_4gram_char_ratio,
         CASE WHEN wc = 0 THEN 0.0 ELSE round(COALESCE(d5, 0)::DOUBLE / wc, 6) END AS dup_5gram_char_ratio,
         CASE WHEN wc = 0 THEN 0.0 ELSE round(COALESCE(d10, 0)::DOUBLE / wc, 6) END AS dup_10gram_char_ratio,
         (5 * COALESCE(t2, 0) <= 1 * wc
          AND 50 * COALESCE(t3, 0) <= 9 * wc
          AND 25 * COALESCE(t4, 0) <= 4 * wc
          AND 20 * COALESCE(d5, 0) <= 3 * wc
          AND 10 * COALESCE(d10, 0) <= 1 * wc)::INT AS gopher_rep_pass
  FROM rtoks rt LEFT JOIN rwide USING (doc_id)
)
SELECT q.*, l.pred_lang, f.fingerprint,
       g.mean_word_len, g.symbol_word_ratio, g.bullet_line_ratio,
       g.ellipsis_line_ratio, g.alpha_word_ratio, g.n_req_stopwords,
       g.dup_line_ratio, g.dup_line_char_ratio, g.gopher_pass,
       r.top_2gram_char_ratio, r.top_3gram_char_ratio,
       r.top_4gram_char_ratio, r.dup_5gram_char_ratio,
       r.dup_10gram_char_ratio, r.gopher_rep_pass,
       cx.contaminated
FROM q JOIN l USING (doc_id) JOIN f USING (doc_id) JOIN g USING (doc_id)
     JOIN r USING (doc_id) JOIN cx USING (doc_id)
"""


ORACLES["q17_textstats"] = _textstats_sql()


_CLUSTER_CTES = """
t AS (SELECT vec_id AS m, label AS c FROM embeddings),
p AS (SELECT vec_id AS m, CAST(vec_id % 7 AS INT) AS c FROM embeddings),
inter AS (SELECT t.c AS tc, p.c AS pc, count(*) AS n
          FROM t JOIN p USING (m) GROUP BY 1, 2),
tsz AS (SELECT c, count(*) AS n_t FROM t GROUP BY c),
psz AS (SELECT c, count(*) AS n_p FROM p GROUP BY c)
"""


def _prf_select(metric: str, nums_table: str, label_col: str = "metric") -> str:
    """One labeled PRF row computed from a 4-column nums CTE."""
    return f"""
SELECT '{metric}' AS {label_col},
       round(p_num, 6) AS p_num, round(p_den, 6) AS p_den,
       round(r_num, 6) AS r_num, round(r_den, 6) AS r_den,
       round(p, 6) AS precision, round(r, 6) AS recall,
       round(CASE WHEN p + r = 0 THEN 0.0 ELSE 2 * p * r / (p + r) END, 6) AS fscore
FROM (
  SELECT *,
         CASE WHEN p_den = 0 THEN 0.0 ELSE p_num / p_den END AS p,
         CASE WHEN r_den = 0 THEN 0.0 ELSE r_num / r_den END AS r
  FROM {nums_table}
)
"""


ORACLES["q21_cluster_metrics"] = f"""
WITH {_CLUSTER_CTES},
pw_nums AS (
  SELECT (SELECT coalesce(sum((n * (n - 1))::DOUBLE / 2), 0) FROM inter) AS p_num,
         (SELECT coalesce(sum((n_p * (n_p - 1))::DOUBLE / 2), 0) FROM psz) AS p_den,
         (SELECT coalesce(sum((n * (n - 1))::DOUBLE / 2), 0) FROM inter) AS r_num,
         (SELECT coalesce(sum((n_t * (n_t - 1))::DOUBLE / 2), 0) FROM tsz) AS r_den
),
bc_nums AS (
  SELECT (SELECT coalesce(sum((n * n)::DOUBLE / n_p), 0)
          FROM inter JOIN psz ON psz.c = inter.pc) AS p_num,
         (SELECT count(*)::DOUBLE FROM p) AS p_den,
         (SELECT coalesce(sum((n * n)::DOUBLE / n_t), 0)
          FROM inter JOIN tsz ON tsz.c = inter.tc) AS r_num,
         (SELECT count(*)::DOUBLE FROM t) AS r_den
),
pv AS (  -- vilain(pred, true_mapping)
  SELECT coalesce(sum(n - unaligned - parts), 0)::DOUBLE AS num,
         coalesce(sum(n - 1), 0)::DOUBLE AS den
  FROM (
    SELECT p.c, count(*) AS n,
           count(DISTINCT t.c) AS parts,
           sum(CASE WHEN t.c IS NULL THEN 1 ELSE 0 END) AS unaligned
    FROM p LEFT JOIN t USING (m) GROUP BY p.c
  )
),
rv AS (  -- vilain(true, pred_mapping)
  SELECT coalesce(sum(n - unaligned - parts), 0)::DOUBLE AS num,
         coalesce(sum(n - 1), 0)::DOUBLE AS den
  FROM (
    SELECT t.c, count(*) AS n,
           count(DISTINCT p.c) AS parts,
           sum(CASE WHEN p.c IS NULL THEN 1 ELSE 0 END) AS unaligned
    FROM t LEFT JOIN p USING (m) GROUP BY t.c
  )
),
muc_nums AS (
  SELECT pv.num AS p_num, pv.den AS p_den, rv.num AS r_num, rv.den AS r_den
  FROM pv, rv
),
common AS (SELECT t.m, t.c AS tc, p.c AS pc FROM t JOIN p USING (m)),
inter2 AS (SELECT tc, pc, count(*) AS n FROM common GROUP BY tc, pc),
bn_vals AS (
  SELECT
    (SELECT coalesce(sum((n*(n-1))::DOUBLE/2),0) FROM inter2) AS pos,
    (SELECT coalesce(sum((n*(n-1))::DOUBLE/2),0) FROM (SELECT count(*) n FROM common GROUP BY tc)) AS tpc,
    (SELECT coalesce(sum((n*(n-1))::DOUBLE/2),0) FROM (SELECT count(*) n FROM common GROUP BY pc)) AS ppc,
    (SELECT count(*)::DOUBLE FROM common) AS nc,
    (SELECT coalesce(sum((n*(n-1))::DOUBLE/2),0) FROM (SELECT count(*) n FROM t GROUP BY c)) AS tp_all,
    (SELECT coalesce(sum((n*(n-1))::DOUBLE/2),0) FROM (SELECT count(*) n FROM p GROUP BY c)) AS pp_all,
    (SELECT count(*)::DOUBLE FROM t) AS nt,
    (SELECT count(*)::DOUBLE FROM p) AS np
),
bn_nums AS (
  SELECT (nc*(nc-1)/2 - pos - (tpc + ppc - 2*pos)) AS p_num,
         (np*(np-1)/2 - pp_all) AS p_den,
         (nc*(nc-1)/2 - pos - (tpc + ppc - 2*pos)) AS r_num,
         (nt*(nt-1)/2 - tp_all) AS r_den
  FROM bn_vals
)
{_prf_select('pairwise', 'pw_nums')}
UNION ALL
{_prf_select('bcubed', 'bc_nums')}
UNION ALL
{_prf_select('muc', 'muc_nums')}
UNION ALL
{_prf_select('blanc_neg', 'bn_nums')}
"""

ORACLES["q24_cosine_topk"] = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qe
           FROM embeddings WHERE vec_id < 10),
s AS (SELECT query_id, vec_id,
             list_cosine_similarity(qe, embedding) AS cos
      FROM q, embeddings WHERE vec_id <> query_id),
r AS (SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id) AS rank
      FROM s)
SELECT query_id, rank, vec_id FROM r WHERE rank <= 5
"""

ORACLES["q25_cc_chains"] = """
SELECT vec_id AS node, vec_id - (vec_id % 10) AS component
FROM embeddings
"""

ORACLES["q26_salted_pair_counts"] = """
SELECT lang AS block_key,
       CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS n_pairs
FROM documents
GROUP BY lang
HAVING count(*) > 1
"""

ORACLES["q27_interval_scores"] = """
WITH e AS (
  SELECT user_id, event_id, event_type,
         event_id % 1000 AS s,
         event_id % 1000 + (CAST(floor(value) AS BIGINT) % 50) AS en
  FROM events
),
matched AS (
  SELECT l.event_id AS ref_id, l.s AS ls, l.en AS le, r.s AS rs, r.en AS re
  FROM e l JOIN e r ON l.user_id = r.user_id AND l.event_id <> r.event_id
  WHERE l.event_type = 'error' AND r.s <= l.en AND r.en >= l.s
),
mx AS (
  SELECT ref_id,
         round(max(greatest(least(le, re) - greatest(ls, rs) + 1, 0)::DOUBLE
                   / (le - ls + 1)), 6) AS overlap_max
  FROM matched GROUP BY ref_id
),
covered AS (
  SELECT DISTINCT ref_id, ls, le, unnest(range(greatest(rs, ls), least(re, le) + 1)) AS pos
  FROM matched WHERE least(re, le) >= greatest(rs, ls)
),
sm AS (
  SELECT ref_id, round(count(*)::DOUBLE / (le - ls + 1), 6) AS overlap_sum
  FROM covered GROUP BY ref_id, ls, le
)
SELECT mx.ref_id, mx.overlap_max, sm.overlap_sum
FROM mx JOIN sm USING (ref_id)
"""

ORACLES["q28_first_mention"] = """
SELECT user_id, event_type, event_id FROM (
  SELECT user_id, event_type, event_id,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts ASC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""

ORACLES["q29_multi_id_match"] = """
WITH gold(docid, s, e, eid) AS (VALUES
  ('d1', 0, 5, 'E1|E2'), ('d1', 10, 15, 'E3'), ('d2', 0, 5, 'E4|E5|E6'),
  ('d2', 8, 12, 'E7'), ('d3', 1, 4, 'E8')),
sys(docid, s, e, eid) AS (VALUES
  ('d1', 0, 5, 'E2'), ('d1', 10, 15, 'E9'), ('d2', 0, 5, 'E5'),
  ('d2', 8, 12, 'E7'), ('d3', 2, 4, 'E8')),
g AS (SELECT docid, s, e, eid AS orig_eid,
             unnest(string_split(eid, '|')) AS eid1
      FROM gold),
counts AS (
  SELECT
    (SELECT count(*) FROM (
       SELECT DISTINCT docid, s, e, orig_eid FROM g
       WHERE EXISTS (SELECT 1 FROM sys
                     WHERE sys.docid = g.docid AND sys.s = g.s
                       AND sys.e = g.e AND sys.eid = g.eid1))) AS tp,
    (SELECT count(*) FROM gold) AS n_gold,
    (SELECT count(*) FROM sys) AS n_sys
)
SELECT tp, n_sys - tp AS fp, n_gold - tp AS fn,
       round(CASE WHEN n_sys = 0 THEN 0.0 ELSE tp::DOUBLE / n_sys END, 6) AS precision,
       round(CASE WHEN n_gold = 0 THEN 0.0 ELSE tp::DOUBLE / n_gold END, 6) AS recall,
       round(CASE WHEN (CASE WHEN n_sys = 0 THEN 0.0 ELSE tp::DOUBLE / n_sys END)
                     + (CASE WHEN n_gold = 0 THEN 0.0 ELSE tp::DOUBLE / n_gold END) = 0 THEN 0.0
             ELSE 2 * (tp::DOUBLE / n_sys) * (tp::DOUBLE / n_gold)
                  / ((tp::DOUBLE / n_sys) + (tp::DOUBLE / n_gold)) END, 6) AS fscore
FROM counts
"""

ORACLES["q30_error_labels"] = """
WITH gold(docid, s, eid) AS (VALUES
  ('d', 0, 'E1'), ('d', 2, 'E1'), ('d', 4, 'E1'),
  ('d', 8, 'NIL1'), ('d', 10, 'E5'), ('d', 12, 'NIL2')),
sys(docid, s, eid) AS (VALUES
  ('d', 0, 'E1'), ('d', 2, 'E2'), ('d', 6, 'E3'),
  ('d', 8, 'E4'), ('d', 10, 'NIL9'), ('d', 12, 'NIL3')),
j AS (SELECT coalesce(g.docid, y.docid) docid,
             g.eid AS geid, y.eid AS seid
      FROM gold g FULL OUTER JOIN sys y ON g.docid = y.docid AND g.s = y.s),
lab AS (
  SELECT CASE
    WHEN seid IS NULL AND geid IS NOT NULL THEN 'missing'
    WHEN geid IS NULL AND seid IS NOT NULL THEN 'extra'
    WHEN (geid IS NULL OR geid LIKE 'NIL%') AND (seid IS NULL OR seid LIKE 'NIL%') THEN 'correct nil'
    WHEN (geid IS NULL OR geid LIKE 'NIL%') THEN 'nil-as-link'
    WHEN (seid IS NULL OR seid LIKE 'NIL%') THEN 'link-as-nil'
    WHEN geid = seid THEN 'correct link'
    ELSE 'wrong-link' END AS label
  FROM j)
SELECT label, count(*) AS n FROM lab GROUP BY label
"""

ORACLES["q31_weak_projection"] = """
WITH spans AS (
  SELECT CAST(user_id AS VARCHAR) AS docid,
         event_id % 100 AS s,
         event_id % 100 + CAST(floor(value) AS BIGINT) % 5 AS e
  FROM events WHERE user_id < 10
),
chars AS (
  SELECT docid, unnest(range(s, e + 1)) AS start FROM spans
)
SELECT docid, start, count(*) AS n FROM chars GROUP BY docid, start
"""

ORACLES["q32_split_reassemble"] = r"""
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS job_id,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS t
  FROM documents
),
parts AS (
  SELECT job_id,
         CAST(ceil(len(t) / 4.0) AS INT) AS n_partials,
         unnest(range(0, CAST(ceil(len(t) / 4.0) AS INT))) AS partial_id,
         t
  FROM d
),
rt AS (
  SELECT job_id, array_to_string(t, ' ') AS text_rt,
         CAST(ceil(len(t) / 4.0) AS BIGINT) AS collected
  FROM d
)
SELECT parts.job_id, partial_id, n_partials,
       len(t[partial_id * 4 + 1 : partial_id * 4 + 4]) AS n_items,
       array_to_string(t[partial_id * 4 + 1 : partial_id * 4 + 4], ' ') AS items_str,
       rt.text_rt, rt.collected
FROM parts JOIN rt ON parts.job_id = rt.job_id
"""

ORACLES["q35_first_on_category"] = """
WITH m(mention_id, cands, act_cat) AS (VALUES
  ('m1', ['E1','E2','E3'], ['Anatomy']),
  ('m2', ['E2','E1'], ['Disorders']),
  ('m3', ['E9'], ['Anatomy']),
  ('m4', ['E3','E1'], ['Finding'])),
et(eid, types) AS (VALUES
  ('E1', ['Anatomy']), ('E2', ['Disorders']), ('E3', ['Anatomy','Finding'])),
ex AS (
  SELECT mention_id, act_cat, unnest(cands) AS eid,
         generate_subscripts(cands, 1) AS pos
  FROM m
),
hit AS (
  SELECT ex.mention_id, min(ex.pos) AS minpos
  FROM ex JOIN et ON ex.eid = et.eid
  WHERE len(list_intersect(et.types, ex.act_cat)) > 0
  GROUP BY ex.mention_id
)
SELECT m.mention_id,
       CASE WHEN hit.minpos IS NULL THEN NULL ELSE m.cands[hit.minpos] END AS selected_eid,
       coalesce(hit.minpos - 1, -1) AS selected_idx
FROM m LEFT JOIN hit USING (mention_id)
"""

ORACLES["q36_weighted_match"] = """
WITH gold(docid, gold_type) AS (VALUES
  ('d1','TYA'), ('d2','TYA'), ('d3','TYB'), ('d4','TYC')),
sys(docid, sys_type) AS (VALUES
  ('d1','TYA'), ('d2','TYB'), ('d3','TYB2'), ('d4','TYX')),
w(gold_type, sys_type, weight) AS (VALUES
  ('TYA','TYB',0.5), ('TYB','TYB2',0.8))
SELECT g.docid, g.gold_type, s.sys_type,
       round(coalesce(w.weight,
                      CASE WHEN g.gold_type = s.sys_type THEN 1.0 ELSE 0.0 END)::DOUBLE, 6) AS weight
FROM gold g
JOIN sys s USING (docid)
LEFT JOIN w ON w.gold_type = g.gold_type AND w.sys_type = s.sys_type
"""

ORACLES["q37_lookup_fallback"] = """
WITH dim(key, value) AS (VALUES
  ('en','english'), ('pfx_de','german'), ('fr','french'), ('pfx_zh','chinese'))
SELECT doc_id, lang,
       coalesce(d1.value, d2.value) AS lang_name
FROM documents
LEFT JOIN dim d1 ON d1.key = lang
LEFT JOIN dim d2 ON d2.key = 'pfx_' || lang
"""


ORACLES["q40_server_stats"] = """
SELECT 'client' AS kind, user_id::DOUBLE AS key, count(*) AS n,
       round(avg(value), 6) AS avg_msg_size,
       min(ts) AS first_seen, max(ts) AS last_seen
FROM events GROUP BY user_id
UNION ALL
SELECT 'bucket' AS kind, floor(value / 50.0) * 50.0 AS key, count(*) AS n,
       0.0::DOUBLE AS avg_msg_size,
       TIMESTAMP '1970-01-01 00:00:00' AS first_seen,
       TIMESTAMP '1970-01-01 00:00:00' AS last_seen
FROM events GROUP BY floor(value / 50.0) * 50.0
UNION ALL
-- streaming arm: from-scratch replay of the operative-watermark
-- protocol over the same deterministic 4-batch fixture the Spark side
-- actually streams (streaming/serving.py WINDOW_FIXTURE_BATCHES).
-- The watermark computed from batch N's max event time becomes
-- operative in batch N+2, so each row is kept iff ts >= (max ts over
-- batches <= its batch - 2) - 30min; append mode then emits exactly
-- the windows whose end <= the final watermark.
SELECT 'window' AS kind, key, n, avg_msg_size, first_seen, last_seen
FROM (
  WITH fx(batch, user_id, ts, value) AS (VALUES
    (0, 1, TIMESTAMP '2024-01-01 00:01:00', 10.0),
    (0, 1, TIMESTAMP '2024-01-01 00:04:00', 20.0),
    (0, 2, TIMESTAMP '2024-01-01 00:12:00', 5.0),
    (1, 9, TIMESTAMP '2024-01-01 09:00:00', 1.0),
    (2, 9, TIMESTAMP '2024-01-01 09:01:00', 1.0),
    (3, 1, TIMESTAMP '2024-01-01 00:02:00', 999.0)),
  kept AS (
    SELECT f.* FROM fx f
    WHERE f.ts >= coalesce(
      (SELECT max(g.ts) - INTERVAL 30 MINUTE FROM fx g
       WHERE g.batch <= f.batch - 2),
      TIMESTAMP '1900-01-01 00:00:00')
  ),
  final_wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS wm FROM kept),
  agg AS (
    SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS window_start, user_id,
           count(*) AS n, round(avg(value), 6) AS avg_msg_size
    FROM kept GROUP BY 1, 2)
  SELECT CAST(user_id AS DOUBLE) AS key, n, avg_msg_size,
         window_start AS first_seen,
         window_start + INTERVAL 10 MINUTE AS last_seen
  FROM agg, final_wm
  WHERE window_start + INTERVAL 10 MINUTE <= final_wm.wm
)
"""

ORACLES["q44_lsh_candidates"] = f"""
WITH {_SHINGLES3},
mins AS (
  SELECT doc_id, h, min(md5(h || ':' || shingle)) AS mh
  FROM sh, (SELECT unnest(range(0, 8)) AS h)
  GROUP BY doc_id, h
),
banded AS (
  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         md5(string_agg(mh, '|' ORDER BY h)) AS band_hash
  FROM mins GROUP BY doc_id, CAST(h // 2 AS INT)
)
SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
FROM banded x
JOIN banded y ON x.band = y.band AND x.band_hash = y.band_hash
            AND x.doc_id < y.doc_id
"""

ORACLES["q45_filter_candidates"] = """
WITH m(mention_id, cands, pred) AS (VALUES
  ('m1', ['E1','E2'], ['Anatomy']),
  ('m2', ['E1','E2'], []::VARCHAR[]),
  ('m3', ['E2'], ['Anatomy']),
  ('m4', ['E9','E2'], ['Disorders'])),
et(eid, types) AS (VALUES ('E1', ['Anatomy']), ('E2', ['Disorders'])),
ex AS (
  SELECT mention_id, pred, unnest(cands) AS eid,
         generate_subscripts(cands, 1) AS pos
  FROM m
),
kept AS (
  SELECT ex.mention_id, list(ex.eid ORDER BY ex.pos) AS kept
  FROM ex LEFT JOIN et ON et.eid = ex.eid
  WHERE len(list_intersect(coalesce(et.types, []::VARCHAR[]), ex.pred)) > 0
  GROUP BY ex.mention_id
)
SELECT m.mention_id,
       array_to_string(
         CASE WHEN len(m.pred) = 0 THEN m.cands
              WHEN kept.kept IS NULL OR len(kept.kept) = 0 THEN m.cands
              ELSE kept.kept END, '|') AS kept_eids
FROM m LEFT JOIN kept ON kept.mention_id = m.mention_id
"""

# shared gold/system annotation CTEs for the measure-registry queries
# (must mirror queries._measure_frames exactly)
_MEASURE_FRAMES = """
gold AS (
  SELECT CAST(user_id AS VARCHAR) AS docid,
         event_id % 1000 AS s,
         event_id % 1000 + CAST(floor(value) AS BIGINT) % 50 AS e,
         CASE WHEN event_id % 5 = 0
              THEN 'E' || (event_id % 37) || '|E' || (event_id % 41)
              ELSE 'E' || (event_id % 37) END AS kbid
  FROM events WHERE event_type = 'error'
),
sys AS (
  SELECT CAST(user_id AS VARCHAR) AS docid,
         event_id % 1000 AS s,
         event_id % 1000 + CAST(floor(value) AS BIGINT) % 50 AS e,
         'E' || (event_id % 37 + CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END) AS kbid
  FROM events WHERE event_id % 3 = 0
)
"""


ORACLES["q46_measures"] = f"""
WITH {_MEASURE_FRAMES},
sa_g AS (SELECT DISTINCT docid, s, e, kbid FROM gold),
sa_sy AS (SELECT DISTINCT docid, s, e, kbid FROM sys),
sa_gm AS (SELECT docid, s, e, kbid, unnest(string_split(kbid, '|')) AS kb1 FROM sa_g),
sa_tp AS (
  SELECT count(*)::DOUBLE AS v FROM (
    SELECT DISTINCT docid, s, e, kbid FROM sa_gm
    WHERE EXISTS (SELECT 1 FROM sa_sy
                  WHERE sa_sy.docid = sa_gm.docid AND sa_sy.s = sa_gm.s
                    AND sa_sy.e = sa_gm.e AND sa_sy.kbid = sa_gm.kb1))
),
sa_nums AS (
  SELECT sa_tp.v AS p_num, (SELECT count(*)::DOUBLE FROM sa_sy) AS p_den,
         sa_tp.v AS r_num, (SELECT count(*)::DOUBLE FROM sa_g) AS r_den
  FROM sa_tp
),
sk_g AS (SELECT DISTINCT kbid FROM gold),
sk_sy AS (SELECT DISTINCT kbid FROM sys),
sk_gm AS (SELECT kbid, unnest(string_split(kbid, '|')) AS kb1 FROM sk_g),
sk_tp AS (
  SELECT count(*)::DOUBLE AS v FROM (
    SELECT DISTINCT kbid FROM sk_gm
    WHERE EXISTS (SELECT 1 FROM sk_sy WHERE sk_sy.kbid = sk_gm.kb1))
),
sk_nums AS (
  SELECT sk_tp.v AS p_num, (SELECT count(*)::DOUBLE FROM sk_sy) AS p_den,
         sk_tp.v AS r_num, (SELECT count(*)::DOUBLE FROM sk_g) AS r_den
  FROM sk_tp
),
ov_g AS (SELECT *, row_number() OVER () AS gid FROM gold),
ov_sy AS (SELECT *, row_number() OVER () AS sid FROM sys),
ov_gm AS (SELECT gid, docid, s, e, unnest(string_split(kbid, '|')) AS kb1 FROM ov_g),
ov_matched AS (
  SELECT ov_sy.sid, ov_gm.gid, ov_sy.s AS ss, ov_sy.e AS se, ov_gm.s AS gs, ov_gm.e AS ge
  FROM ov_sy JOIN ov_gm ON ov_sy.docid = ov_gm.docid AND ov_sy.kbid = ov_gm.kb1
                 AND ov_gm.s <= ov_sy.e AND ov_gm.e >= ov_sy.s
),
ov_sys_cov AS (
  SELECT sid, max((least(se, ge) - greatest(ss, gs) + 1)::DOUBLE / (se - ss + 1)) AS cov
  FROM ov_matched GROUP BY sid
),
ov_gold_cov AS (
  SELECT gid, max((least(se, ge) - greatest(ss, gs) + 1)::DOUBLE / (ge - gs + 1)) AS cov
  FROM ov_matched GROUP BY gid
),
ov_nums AS (
  SELECT (SELECT coalesce(sum(cov), 0.0) FROM ov_sys_cov) AS p_num,
         (SELECT count(*)::DOUBLE FROM ov_sy) AS p_den,
         (SELECT coalesce(sum(cov), 0.0) FROM ov_gold_cov) AS r_num,
         (SELECT count(*)::DOUBLE FROM ov_g) AS r_den
)
{_prf_select('strong_all_match', 'sa_nums', 'measure')}
UNION ALL
{_prf_select('sets::kbid', 'sk_nums', 'measure')}
UNION ALL
{_prf_select('overlap-maxmax::span+kbid', 'ov_nums', 'measure')}
"""

ORACLES["q49_tac_scan"] = f"""
SELECT column0 AS docid, column1 AS start, column2 AS "end",
       column3 AS eid, column4 AS score, column5 AS type
FROM read_csv('{FIXTURES}/tac_gold.combined.tsv',
              delim='\t', header=false,
              columns={{'column0':'VARCHAR','column1':'BIGINT','column2':'BIGINT',
                       'column3':'VARCHAR','column4':'DOUBLE','column5':'VARCHAR'}})
"""

def _type_remap_sql() -> str:
    import json
    import os

    cfg = os.path.join(os.path.dirname(os.path.abspath(__file__)), "config")
    remap = json.load(open(os.path.join(cfg, "type_remap.json")))
    t2i = json.load(open(os.path.join(cfg, "type2id.json")))
    fine = sorted(remap)
    fine_list = "[" + ", ".join(f"'{x}'" for x in fine) + "]"
    rows = ",\n  ".join(
        f"('{k}', {t2i[remap[k]]}, '{remap[k]}')" for k in fine
    )
    return f"""
WITH remap(fine, gid, grp) AS (VALUES
  {rows}),
docs AS (
  SELECT doc_id,
         [{fine_list}[(doc_id % 127 + 1)::INT],
          {fine_list}[((doc_id * 7 + 3) % 127 + 1)::INT]] AS labs
  FROM documents
),
ex AS (SELECT doc_id, unnest(labs) AS lab FROM docs),
j AS (SELECT DISTINCT doc_id, gid, grp FROM ex JOIN remap ON lab = fine)
SELECT doc_id,
       string_agg(gid::VARCHAR, ',' ORDER BY gid) AS label_ids,
       string_agg(grp, ',' ORDER BY grp) AS coarse
FROM j GROUP BY doc_id
"""


ORACLES["q54_type_remap"] = _type_remap_sql()

ORACLES["q42_average_precision"] = """
WITH scored AS (
  SELECT vec_id, embedding[1]::DOUBLE AS score,
         CASE WHEN label < 5 THEN 1 ELSE 0 END AS label
  FROM embeddings
),
ranked AS (
  SELECT label::DOUBLE AS rel,
         row_number() OVER (ORDER BY score DESC, vec_id) AS k,
         sum(label) OVER (ORDER BY score DESC, vec_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp_at_k
  FROM scored
)
SELECT round(coalesce(sum(tp_at_k::DOUBLE / k * rel) / sum(rel), 0.0), 6) AS average_precision,
       CAST(sum(rel) AS BIGINT) AS n_pos,
       count(*) AS n
FROM ranked
"""

ORACLES["q63_brat_scan"] = f"""
SELECT column0 AS docid, column1 AS start, column2 AS "end",
       coalesce(column3, '') AS eids, column4 AS n_cands
FROM read_csv('{FIXTURES}/brat/expected.tsv',
              delim='\t', header=false,
              columns={{'column0':'VARCHAR','column1':'BIGINT','column2':'BIGINT',
                       'column3':'VARCHAR','column4':'INT'}})
"""

ORACLES["q64_conll_scan"] = f"""
SELECT column0 AS docid, column1 AS cluster, column2 AS start, column3 AS "end"
FROM read_csv('{FIXTURES}/conll/expected.tsv',
              delim='\t', header=false,
              columns={{'column0':'VARCHAR','column1':'VARCHAR',
                       'column2':'BIGINT','column3':'BIGINT'}})
"""

# Luo (2005) example, response 1: gold {A:5, B:2, C:5} vs response
# {A:5, B:7}.  The optimal CEAF alignment is A<->A, C<->B (known in
# closed form for this example; the same values the reference's
# test_coref_metrics.py:185-207 asserts).  mention-CEAF similarity =
# 5 + 5 = 10 over denominators 12/12; entity-CEAF (Dice) = 1 + 10/12
# over denominators (2 response clusters, 3 true clusters).
ORACLES["q65_ceaf_fixture"] = """
WITH vals AS (
  SELECT 'mention_ceaf' AS variant,
         10.0 AS p_num, 12.0 AS p_den, 10.0 AS r_num, 12.0 AS r_den
  UNION ALL
  SELECT 'entity_ceaf',
         1.0 + 10.0/12.0, 2.0, 1.0 + 10.0/12.0, 3.0
)
SELECT variant,
       round(p_num, 6) AS p_num, round(p_den, 6) AS p_den,
       round(r_num, 6) AS r_num, round(r_den, 6) AS r_den,
       round(p, 6) AS precision, round(r, 6) AS recall,
       round(CASE WHEN p + r = 0 THEN 0.0 ELSE 2 * p * r / (p + r) END, 6) AS fscore
FROM (SELECT *, p_num / p_den AS p, r_num / r_den AS r FROM vals)
"""


# ----------------------------------------------------------------------
# md5-stub oracles: the deterministic stand-ins (type scorer, tokenizer,
# media decode, alias embeddings, simhash) are md5-derived with
# integer-exact decision arithmetic, so DuckDB can recompute them from
# scratch — features, logits, thresholds, rankings — not just replay
# stored values.
# ----------------------------------------------------------------------

def _hex8(expr: str) -> str:
    """SQL: first 8 hex chars of an md5 string parsed as a BIGINT —
    the mirror of functions.scoring.md5_bucket's int(hexdigest[:8], 16)."""
    return (
        "list_sum(list_transform(range(1, 9), "
        f"hx -> (instr('0123456789abcdef', substr({expr}, hx::INT, 1)) - 1)"
        " * (16 ** (8 - hx))::BIGINT))::BIGINT"
    )


# integer stub weights: w(f, c) = md5_bucket('w:f:c', 2001) - 1000
_STUB_W = f"""
w AS (
  SELECT f, c, ({_hex8("md5('w:' || f || ':' || c)")} % 2001 - 1000) AS w
  FROM (SELECT unnest(range(0, 1024)) AS f), (SELECT unnest(range(0, 24)) AS c)
)
"""


def _coarse_type_names_sql() -> str:
    from medtype_spark.functions.scoring import COARSE_TYPES

    rows = ",\n  ".join(
        f"({i}, '{name}')" for i, name in enumerate(COARSE_TYPES)
    )
    return f"names(c, name) AS (VALUES\n  {rows})"


ORACLES["q52_stub_type_scorer"] = f"""
WITH docs AS (SELECT doc_id, lower(text) AS t FROM documents),
tris AS (
  SELECT doc_id, t, unnest(range(1, greatest(length(t) - 2, 1) + 1)) AS j
  FROM docs
),
tri2 AS (SELECT doc_id, substr(t, j::INT, 3) AS tri FROM tris),
feats AS (
  SELECT doc_id, {_hex8("md5(tri)")} % 1024 AS bucket, count(*) AS cnt
  FROM tri2 GROUP BY 1, 2
),
{_STUB_W},
dots AS (
  SELECT doc_id, c, sum(cnt * w) AS dot
  FROM feats JOIN w ON bucket = f GROUP BY 1, 2
),
{_coarse_type_names_sql()},
pred AS (
  SELECT doc_id, count(*) AS n_types,
         string_agg(name, '|' ORDER BY c) AS joined
  FROM dots JOIN names USING (c) WHERE dot > 0 GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(pred.n_types, 0)::INT AS n_types,
       md5(coalesce(pred.joined, '')) AS types_md5
FROM documents d LEFT JOIN pred USING (doc_id)
"""

_TOK_IDS = f"t -> {_hex8('md5(t)')} % 30000 + 1000"

ORACLES["q55_token_batches"] = rf"""
WITH docs AS (SELECT CAST(doc_id AS VARCHAR) AS mention_key, text FROM documents),
parts AS (
  SELECT mention_key,
         regexp_extract_all(substr(text, 1, 12), '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS men_toks,
         regexp_extract_all(substr(text, 13), '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')[1:60] AS nxt_toks
  FROM docs
),
-- window = [CLS] + [MEN_START] + mention + [MEN_END] + next + [SEP];
-- prev is empty (start_offset = 0) and 12-char mentions + 60 next
-- tokens can never exceed max_len 128, so the truncation branch is
-- provably idle on this derivation and men_pos is always 1
ids AS (
  SELECT mention_key,
         [101, 1] || list_transform(men_toks, {_TOK_IDS})
                  || [2]
                  || list_transform(nxt_toks, {_TOK_IDS})
                  || [102] AS toks,
         1 AS men_pos,
         (4 + len(men_toks) + len(nxt_toks))::INT AS tok_len
  FROM parts
),
ex AS (SELECT mention_key, unnest(toks) AS id FROM ids),
feats AS (SELECT mention_key, id % 1024 AS bucket, count(*) AS cnt FROM ex GROUP BY 1, 2),
{_STUB_W},
dots AS (
  SELECT mention_key, c, sum(cnt * w) AS dot
  FROM feats JOIN w ON bucket = f GROUP BY 1, 2
),
bits AS (
  SELECT mention_key,
         string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY c) AS pred_bits
  FROM dots GROUP BY mention_key
)
SELECT i.mention_key, i.men_pos, i.tok_len, b.pred_bits
FROM ids i JOIN bits b USING (mention_key)
"""

ORACLES["q57_media_decode"] = f"""
WITH media AS (
  SELECT doc_id AS media_id,
         ['image', 'audio', 'video'][(doc_id % 3 + 1)::INT] AS media_type,
         strlen(text) AS n_bytes,
         md5(text) AS d
  FROM documents
),
sig AS (SELECT media_id, d, unnest(range(0, 256)) AS i FROM media),
vals AS (SELECT media_id, {_hex8("md5(d || ':' || i)")} / 4294967296.0 AS v FROM sig),
m AS (SELECT media_id, avg(v) AS mean FROM vals GROUP BY media_id),
s AS (
  SELECT vals.media_id, sqrt(avg((vals.v - m.mean) * (vals.v - m.mean))) AS sd
  FROM vals JOIN m USING (media_id) GROUP BY vals.media_id
)
SELECT media.media_id, media.media_type,
       round(CASE WHEN media.n_bytes = 0 THEN 0.0 ELSE m.mean END, 6) AS sig_mean,
       round(CASE WHEN media.n_bytes = 0 THEN 0.0 ELSE s.sd END, 6) AS sig_std,
       media.n_bytes::INT AS n_bytes,
       64 AS n_features,
       coalesce(fr.n_frames, 0) AS n_frames,
       coalesce(fr.frames, '') AS frames
FROM media JOIN m USING (media_id) JOIN s USING (media_id)
LEFT JOIN (
  SELECT doc_id AS media_id,
         CAST(doc_id % 240 + 8 AS INT) AS n_frames,
         array_to_string(
           list_sort(list_distinct(
             list_transform(range(0, 4),
                            i -> CAST(floor(i * (doc_id % 240 + 8) / 4) AS INT)))),
           ',') AS frames
  FROM documents
  WHERE doc_id % 3 = 2
) fr USING (media_id)
"""

ORACLES["q50_simhash"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
                ELSE list_transform(range(1, len(t)),
                                    i -> array_to_string(t[i:i+1], ' '))
                END) AS shingle
  FROM toks
),
hashed AS (SELECT doc_id, md5(shingle) AS h FROM sh),
votes AS (
  SELECT doc_id, b,
         sum(CASE WHEN ((instr('0123456789abcdef', substr(h, (b // 4 + 1)::INT, 1)) - 1)
                        >> (b % 4)::INT) & 1 = 1
                  THEN 1 ELSE -1 END) AS v
  FROM hashed, (SELECT unnest(range(0, 64)) AS b)
  GROUP BY doc_id, b
)
SELECT doc_id,
       sum(CASE WHEN v > 0
                THEN CASE WHEN b = 63 THEN (-9223372036854775807 - 1)::HUGEINT
                          ELSE (1::BIGINT << b::INT)::HUGEINT END
                ELSE 0::HUGEINT END)::BIGINT AS simhash
FROM votes GROUP BY doc_id
"""


def _embedding_candidates_sql() -> str:
    """q62: re-run the ScispaCy-style retrieval in SQL.  The
    normalized alias strings are inlined as data (they are INPUT — the
    lexicon dimension); everything computed (trigram features, norms,
    dots, ranking, per-eid dedup, top-k) is recomputed by DuckDB."""
    from medtype_spark.datagen.pages import build_lexicon
    from medtype_spark.operators.mentions import normalize_form_py

    lex = build_lexicon(40)
    rows = ",\n  ".join(
        f"({i}, '{normalize_form_py(a)}', '{e}')"
        for i, (a, e) in enumerate(zip(lex["alias"], lex["eid"]))
    )
    featurize = f"""
  SELECT key, {_hex8("md5(tri)")} % 1024 AS bucket, count(*) AS cnt
  FROM (
    SELECT key, substr(s, j::INT, 3) AS tri FROM (
      SELECT key, s, unnest(range(1, greatest(length(s) - 2, 1) + 1)) AS j
      FROM __SRC__
    )
  ) GROUP BY 1, 2
"""
    return f"""
WITH al(idx, alias, eid) AS (VALUES
  {rows}),
aft AS ({featurize.replace('__SRC__', '(SELECT idx AS key, alias AS s FROM al)')}),
anorm AS (SELECT key, sqrt(sum(cnt * cnt)) AS nrm FROM aft GROUP BY key),
forms AS (SELECT DISTINCT lower(source) AS norm_form FROM documents),
fft AS ({featurize.replace('__SRC__', '(SELECT norm_form AS key, norm_form AS s FROM forms)')}),
fnorm AS (SELECT key, sqrt(sum(cnt * cnt)) AS nrm FROM fft GROUP BY key),
dots AS (
  SELECT f.key AS norm_form, a.key AS idx, sum(f.cnt * a.cnt) AS dot
  FROM fft f JOIN aft a ON f.bucket = a.bucket
  GROUP BY 1, 2
),
scored AS (
  SELECT fo.norm_form, al.idx, al.eid,
         coalesce(d.dot, 0)::DOUBLE
           / (CASE WHEN fn.nrm = 0 THEN 1 ELSE fn.nrm END
              * CASE WHEN an.nrm = 0 THEN 1 ELSE an.nrm END) AS r
  FROM forms fo
  CROSS JOIN al
  LEFT JOIN dots d ON d.norm_form = fo.norm_form AND d.idx = al.idx
  JOIN fnorm fn ON fn.key = fo.norm_form
  JOIN anorm an ON an.key = al.idx
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY norm_form ORDER BY r DESC, idx) AS rn
  FROM scored
),
best AS (SELECT norm_form, eid, min(rn) AS brn FROM ranked GROUP BY 1, 2),
er AS (
  SELECT *, row_number() OVER (PARTITION BY norm_form ORDER BY brn) AS er
  FROM best
)
SELECT norm_form,
       least(count(*), 3)::INT AS n_cands,
       min(CASE WHEN er = 1 THEN eid END) AS top_eid
FROM er GROUP BY norm_form
"""


ORACLES["q62_embedding_candidates"] = _embedding_candidates_sql()


# q60: the full composed near-dup pipeline INCLUDING transitive
# closure — minhash (16 md5 hashes) → LSH banding (4 bands × 4) →
# exact Jaccard >= 0.8 over distinct shingles → connected components
# labeled by min doc_id, reproduced in SQL via a recursive CTE
# (min-reachable-id over the undirected verified-pair graph).
ORACLES["q60_neardup_clusters"] = f"""
WITH RECURSIVE {_SHINGLES3},
mins AS (
  SELECT doc_id, h, min(md5(h || ':' || shingle)) AS mh
  FROM sh, (SELECT unnest(range(0, 16)) AS h)
  GROUP BY doc_id, h
),
banded AS (
  SELECT doc_id, CAST(h // 4 AS INT) AS band,
         md5(string_agg(mh, '|' ORDER BY h)) AS band_hash
  FROM mins GROUP BY doc_id, CAST(h // 4 AS INT)
),
cands AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM banded x
  JOIN banded y ON x.band = y.band AND x.band_hash = y.band_hash
              AND x.doc_id < y.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.a, c.b, count(*) AS n_inter
  FROM cands c
  JOIN sh sa ON sa.doc_id = c.a
  JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
  GROUP BY c.a, c.b
),
verified AS (
  SELECT i.a, i.b
  FROM inter i
  JOIN sizes za ON za.doc_id = i.a
  JOIN sizes zb ON zb.doc_id = i.b
  WHERE n_inter::DOUBLE / (za.n_sh + zb.n_sh - n_inter) >= 0.8
),
edges AS (
  SELECT a AS src, b AS dst FROM verified
  UNION
  SELECT b, a FROM verified
),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
),
comp AS (SELECT node AS doc_id, min(r) AS neardup_group FROM reach GROUP BY node),
gsz AS (SELECT neardup_group, count(*) AS group_size FROM comp GROUP BY neardup_group)
SELECT comp.doc_id, comp.neardup_group, gsz.group_size
FROM comp JOIN gsz USING (neardup_group)
"""


# q61: multi-table hyperplane LSH cosine pairs.  Plane component j of
# plane p in table t = md5_bucket('(42+1000t):p:j', 1001) - 500 — the
# same md5 grid similarity.knn.plane_components bakes into the Spark
# plan as literals, so DuckDB re-derives the buckets independently.
ORACLES["q61_lsh_cosine_pairs"] = f"""
WITH planes AS (
  SELECT t, p,
         list_transform(range(0, 64),
            j -> ({_hex8("md5((42 + 1000 * t) || ':' || p || ':' || j)")} % 1001 - 500)::DOUBLE) AS comps
  FROM (SELECT unnest(range(0, 3)) AS t), (SELECT unnest(range(0, 6)) AS p)
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bits AS (
  SELECT e.vec_id, planes.t, planes.p,
         CASE WHEN list_dot_product(e.v, planes.comps) >= 0 THEN '1' ELSE '0' END AS bit
  FROM e, planes
),
buckets AS (
  SELECT vec_id, t, t || ':' || string_agg(bit, '' ORDER BY p) AS bucket
  FROM bits GROUP BY vec_id, t
),
cand AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
  FROM buckets x JOIN buckets y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
),
scored AS (
  SELECT cand.a, cand.b,
         list_dot_product(ea.v, eb.v)
           / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS cosine
  FROM cand JOIN e ea ON ea.vec_id = cand.a JOIN e eb ON eb.vec_id = cand.b
)
SELECT a, b, round(cosine, 6) AS cosine FROM scored WHERE cosine >= 0.35
"""


# q66: our Jaro-Winkler vs DuckDB's NATIVE implementation — a genuine
# cross-implementation differential (not a replay).  Domain capped to
# the first 256 forms lexicographically (scale guard), and pairs whose
# score sits within 1e-4 of a 5-digit rounding boundary are excluded
# on both sides (two independent double implementations can differ by
# an ulp; the guard band is ~10 orders wider, so the kept-pair set is
# identical across engines).
ORACLES["q66_jw_scores"] = """
WITH df AS (SELECT DISTINCT lower(source) AS form FROM documents),
f AS (
  SELECT form FROM (
    SELECT form, row_number() OVER (ORDER BY form) AS rk FROM df
  ) WHERE rk <= 256
),
s AS (
  SELECT a.form AS a, b.form AS b,
         jaro_winkler_similarity(a.form, b.form) AS jw
  FROM f a JOIN f b ON a.form < b.form
)
SELECT a, b, round(jw, 5) AS jw FROM s
WHERE abs(jw * 100000 - floor(jw * 100000) - 0.5) > 0.0001
"""


# q67: IVF ANN fixture — md5-derived integer centroids (same grid
# recipe as the LSH planes) + integer-quantized embeddings; assignment
# argmax, probe top-2 cells, inner-product re-rank.  All decisions are
# integer-exact, so DuckDB replays the whole index path from scratch.
ORACLES["q67_ivf_topk"] = f"""
WITH cents AS (
  SELECT c, list_transform(range(0, 64),
         j -> ({_hex8("md5('ivf7:' || c || ':' || j)")} % 1001 - 500)::DOUBLE) AS cv
  FROM (SELECT unnest(range(0, 16)) AS c)
),
e AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> floor(x * 1000)) AS v
  FROM embeddings
),
ad AS (
  SELECT e.vec_id, e.v, cents.c, list_dot_product(e.v, cents.cv) AS dot
  FROM e, cents
),
assign AS (
  SELECT vec_id, v, c AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, c) AS rn
    FROM ad
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 23 = 0),
qd AS (
  SELECT q.qid, q.qv, cents.c, list_dot_product(q.qv, cents.cv) AS dot
  FROM q, cents
),
probes AS (
  SELECT qid, qv, c AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, c) AS rn
    FROM qd
  ) WHERE rn <= 2
),
cand AS (
  SELECT p.qid, p.qv, a.vec_id, a.v
  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.qid
),
scored AS (SELECT qid, vec_id, list_dot_product(qv, v) AS dot FROM cand),
ranked AS (
  SELECT qid AS query_id, vec_id, dot,
         row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS rank
  FROM scored
),
cw AS (
  SELECT js.j, cs.c, ts.t,
         ({_hex8("md5('pq7:' || js.j || ':' || cs.c || ':' || ts.t)")} % 2001 - 1000)::DOUBLE AS w
  FROM (SELECT unnest(range(0, 8)) AS j) js,
       (SELECT unnest(range(0, 16)) AS c) cs,
       (SELECT unnest(range(0, 8)) AS t) ts
),
xc AS (
  SELECT a.vec_id, js.j, ts.t, a.v[js.j * 8 + ts.t + 1] AS x
  FROM assign a,
       (SELECT unnest(range(0, 8)) AS j) js,
       (SELECT unnest(range(0, 8)) AS t) ts
),
xd AS (
  SELECT xc.vec_id, xc.j, cw.c,
         sum((xc.x - cw.w) * (xc.x - cw.w)) AS dist
  FROM xc JOIN cw ON cw.j = xc.j AND cw.t = xc.t
  GROUP BY xc.vec_id, xc.j, cw.c
),
codes AS (
  SELECT vec_id, j, c AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
    FROM xd
  ) WHERE rn = 1
),
qc AS (
  SELECT q.qid, js.j, ts.t, q.qv[js.j * 8 + ts.t + 1] AS x
  FROM q,
       (SELECT unnest(range(0, 8)) AS j) js,
       (SELECT unnest(range(0, 8)) AS t) ts
),
lut AS (
  SELECT qc.qid, qc.j, cw.c,
         sum((qc.x - cw.w) * (qc.x - cw.w)) AS dist
  FROM qc JOIN cw ON cw.j = qc.j AND cw.t = qc.t
  GROUP BY qc.qid, qc.j, cw.c
),
pqcand AS (
  SELECT p.qid, a.vec_id
  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.qid
),
adc AS (
  SELECT pc.qid, pc.vec_id, sum(l.dist) AS adc
  FROM pqcand pc
  JOIN codes cd ON cd.vec_id = pc.vec_id
  JOIN lut l ON l.qid = pc.qid AND l.j = cd.j AND l.c = cd.code
  GROUP BY pc.qid, pc.vec_id
),
pqranked AS (
  SELECT qid AS query_id, vec_id, adc,
         row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rank
  FROM adc
),
-- SemDedup arm (similarity/semdedup.py): within-cell integer-dot
-- edges at threshold 350000, transitive closure (recursive CTE),
-- min-id canonical per component, group sizes
sd_edges AS (
  SELECT a.vec_id AS s, b.vec_id AS d
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v) >= 350000
),
sd_bi AS (
  SELECT s, d FROM sd_edges UNION SELECT d, s FROM sd_edges
),
sd_reach AS (
  WITH RECURSIVE r(node, comp) AS (
    SELECT vec_id, vec_id FROM assign
    UNION
    SELECT b.d, r.comp FROM r JOIN sd_bi b ON b.s = r.node
  )
  SELECT node, min(comp) AS canonical_id FROM r GROUP BY node
),
sd AS (
  SELECT a.vec_id, a.cell, rc.canonical_id,
         count(*) OVER (PARTITION BY rc.canonical_id) AS group_size
  FROM assign a JOIN sd_reach rc ON rc.node = a.vec_id
)
SELECT 'ivf' AS kind, query_id, rank::INT AS rank, vec_id, dot::BIGINT AS score
FROM ranked WHERE rank <= 3
UNION ALL
SELECT 'pq' AS kind, query_id, rank::INT AS rank, vec_id, adc::BIGINT AS score
FROM pqranked WHERE rank <= 3
UNION ALL
SELECT 'semdedup' AS kind, cell::BIGINT AS query_id, group_size::INT AS rank,
       vec_id, canonical_id::BIGINT AS score
FROM sd
"""


def _fscore_sql(tp: str, fp: str, fn: str) -> str:
    """Mirror of significance._prf_diff's fscore expression tree —
    same CASE guards and left-associated IEEE arithmetic, so the
    doubles are bit-identical across engines."""
    p = f"(CASE WHEN {tp} + {fp} = 0 THEN 0.0::DOUBLE ELSE {tp} / ({tp} + {fp}) END)"
    r = f"(CASE WHEN {tp} + {fn} = 0 THEN 0.0::DOUBLE ELSE {tp} / ({tp} + {fn}) END)"
    return (
        f"(CASE WHEN {p} + {r} = 0 THEN 0.0::DOUBLE "
        f"ELSE 2 * {p} * {r} / ({p} + {r}) END)"
    )


def _significance_sql(n_trials: int = 200, seed: int = 42) -> str:
    """q68: replay the md5-randomized permutation test, bootstrap
    resampling, and exact-order-statistic CIs.  The CI ranks are
    computed here with the SAME float formula as
    metrics.significance.percentile_ci_exact (math.ceil on float
    alpha), so rank choice can never drift between engines."""
    import math

    diff1 = _fscore_sql("tp1", "fp1", "fn1")
    diff2 = _fscore_sql("tp2", "fp2", "fn2")
    swap_u = _hex8(f"md5('{seed}:' || trial || ':' || docid)")
    pick_u = _hex8(f"md5('{seed}:' || trial || ':' || slot)")
    ci_rows = []
    for lv in (90, 95, 99):
        alpha = (100 - lv) / 200.0
        lo_r = max(1, math.ceil(alpha * n_trials))
        hi_r = max(1, math.ceil((1 - alpha) * n_trials))
        ci_rows.append(
            f"SELECT {lv} AS level, "
            f"min(CASE WHEN r = {lo_r} THEN diff END) AS lo, "
            f"min(CASE WHEN r = {hi_r} THEN diff END) AS hi FROM rb"
        )
    ci_union = "\n  UNION ALL\n  ".join(ci_rows)
    return f"""
WITH per_doc AS (
  SELECT doc_id AS docid,
         doc_id % 7 AS tp1, doc_id % 5 AS fp1, doc_id % 4 AS fn1,
         (doc_id + 3) % 7 AS tp2, (doc_id + 1) % 5 AS fp2,
         (doc_id + 2) % 4 AS fn2
  FROM documents WHERE doc_id % 17 = 3
),
base AS (
  SELECT {diff1} - {diff2} AS base_diff FROM (
    SELECT sum(tp1) AS tp1, sum(fp1) AS fp1, sum(fn1) AS fn1,
           sum(tp2) AS tp2, sum(fp2) AS fp2, sum(fn2) AS fn2
    FROM per_doc
  )
),
trials AS (
  SELECT per_doc.*, t.trial
  FROM per_doc, (SELECT unnest(range(0, {n_trials})) AS trial) t
),
sw AS (
  SELECT trial,
         CASE WHEN u < 500000 THEN tp2 ELSE tp1 END AS tp1,
         CASE WHEN u < 500000 THEN fp2 ELSE fp1 END AS fp1,
         CASE WHEN u < 500000 THEN fn2 ELSE fn1 END AS fn1,
         CASE WHEN u < 500000 THEN tp1 ELSE tp2 END AS tp2,
         CASE WHEN u < 500000 THEN fp1 ELSE fp2 END AS fp2,
         CASE WHEN u < 500000 THEN fn1 ELSE fn2 END AS fn2
  FROM (SELECT *, ({swap_u}) % 1000000 AS u FROM trials)
),
pdiff AS (
  SELECT trial, {diff1} - {diff2} AS diff FROM (
    SELECT trial, sum(tp1) AS tp1, sum(fp1) AS fp1, sum(fn1) AS fn1,
           sum(tp2) AS tp2, sum(fp2) AS fp2, sum(fn2) AS fn2
    FROM sw GROUP BY trial
  )
),
perm AS (
  SELECT (SELECT base_diff FROM base) AS base_diff,
         (sum(CASE WHEN abs(diff) >= abs((SELECT base_diff FROM base))
                   THEN 1 ELSE 0 END) + 1)
           / CAST({n_trials + 1} AS DOUBLE) AS p_value
  FROM pdiff
),
docs AS (
  SELECT *, row_number() OVER (ORDER BY docid) - 1 AS _idx FROM per_doc
),
slots AS (
  SELECT t.trial, s.slot
  FROM (SELECT unnest(range(0, {n_trials})) AS trial) t,
       (SELECT unnest(range(0, (SELECT count(*) FROM per_doc))) AS slot) s
),
picks AS (
  SELECT trial, ({pick_u}) % (SELECT count(*) FROM per_doc) AS _idx FROM slots
),
boots AS (
  SELECT trial, {diff1} - {diff2} AS diff FROM (
    SELECT p.trial, sum(tp1) AS tp1, sum(fp1) AS fp1, sum(fn1) AS fn1,
           sum(tp2) AS tp2, sum(fp2) AS fp2, sum(fn2) AS fn2
    FROM picks p JOIN docs d USING (_idx) GROUP BY p.trial
  )
),
rb AS (SELECT trial, diff, row_number() OVER (ORDER BY diff, trial) AS r FROM boots),
ci AS (
  {ci_union}
)
SELECT ci.level, round(ci.lo, 6) AS lo, round(ci.hi, 6) AS hi,
       round(perm.base_diff, 6) AS base_diff,
       round(perm.p_value, 6) AS p_value,
       {n_trials}::INT AS n_trials
FROM ci, perm
"""


ORACLES["q68_significance"] = _significance_sql()


# q69: SelectAlternatives back-off fixture — the expected selection
# per tier is hand-derived from prepare.py:8-104 semantics (the Spark
# side additionally round-trips the system frame through the TSV
# sink+scan, so a parse/format break surfaces as a selection change).
ORACLES["q69_select_alternatives"] = """
SELECT * FROM (VALUES
  ('doc1', 0::BIGINT, 5::BIGINT, 'E1', 1),
  ('doc1', 20::BIGINT, 25::BIGINT, 'E7', 1),
  ('doc2', 30::BIGINT, 34::BIGINT, 'E5', 1),
  ('doc3', 10::BIGINT, 12::BIGINT, 'EX', 1),
  ('doc2', 1::BIGINT, 2::BIGINT, 'E9', 1)
) AS t(docid, start, "end", sel_eid, n_cands)
"""
