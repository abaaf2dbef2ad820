"""DuckDB oracle SQL for the LLM-pipeline extension queries.

Mirrors the Spark expressions in operators/{text,dedup,similarity,
events_ops}.py primitive-for-primitive: same token split, same polynomial
hash fold, same seeded-md5 MinHash, same left-fold double arithmetic.
Shared fragments are built by helpers so Spark/DuckDB can't drift apart
silently — any constant lives in functions/texthash.py and is interpolated
here.
"""

from __future__ import annotations

from iceberg_examples_spark.functions.exact import money_cents_sql, money_sum_sql
from iceberg_examples_spark.functions.texthash import (
    MOD,
    REMIX_ADD,
    REMIX_MOD,
    REMIX_MUL,
    affine_params,
)
from iceberg_examples_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    MINHASH_EST_AGREE,
    N_BANDS,
    N_MINHASH,
    ROWS_PER_BAND,
)
from iceberg_examples_spark.operators.text import LANG_ORDER, STOPWORDS

# ---- shared DuckDB fragments -------------------------------------------

DUCK_TOKS = (
    "list_filter(regexp_split_to_array(lower({col}), '[^a-z0-9]+'), t -> t <> '')"
)


def duck_poly_hash(expr: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(acc, c) -> (acc * 31 + c) % {MOD})"
    )


def duck_remix(h: str) -> str:
    return f"(({h}) * {REMIX_MUL} + {REMIX_ADD}) % {REMIX_MOD}"


def duck_md5_int(expr: str) -> str:
    """DuckDB twin of texthash.md5_int_hash (verified bit-identical)."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def duck_train_val_split(key_expr: str) -> str:
    """DuckDB twin of texthash.train_val_split_sql."""
    from iceberg_examples_spark.functions.texthash import TRAIN_PCT

    h = duck_md5_int(f"CAST({key_expr} AS VARCHAR)")
    return (
        f"CASE WHEN ({h}) % 100 < {TRAIN_PCT} THEN 'train' ELSE 'val' END"
    )


def duck_sw_list(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


DUCK_NORM = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
    "(acc, v) -> acc + v))"
)
DUCK_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (acc, v) -> acc + v)"
)

EXT_ORACLES: dict[str, str] = {}

# ---- text ---------------------------------------------------------------

_toks = DUCK_TOKS.format(col="text")

EXT_ORACLES["text_token_count"] = f"""
SELECT doc_id,
       CAST(len({_toks}) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_re_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_seen
FROM documents
"""

_score_cols = ",\n       ".join(
    f"CAST(len(list_filter({_toks}, t -> list_contains({duck_sw_list(lang)}, t))) AS BIGINT)"
    f" AS score_{lang}"
    for lang in LANG_ORDER
)
_max_expr = "greatest(" + ", ".join(f"score_{lang}" for lang in LANG_ORDER) + ")"
_pred_case = (
    "CASE "
    + " ".join(
        f"WHEN score_{lang} = {_max_expr} THEN '{lang}'" for lang in LANG_ORDER[:-1]
    )
    + f" ELSE '{LANG_ORDER[-1]}' END"
)
EXT_ORACLES["text_lang_id"] = f"""
WITH scored AS (
  SELECT doc_id, lang,
       {_score_cols}
  FROM documents
)
SELECT doc_id, lang, score_en, score_es, score_de, score_fr, score_zh,
       {_pred_case} AS pred_lang
FROM scored
"""

_sw_en = duck_sw_list("en")
_avg_len = (
    "CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(toks, t -> CAST(length(t) AS BIGINT))), "
    "(acc, x) -> acc + x) AS DOUBLE) / CAST(len(toks) AS DOUBLE)"
)
_sw_ratio = (
    f"CAST(len(list_filter(toks, t -> list_contains({_sw_en}, t))) AS DOUBLE)"
    " / CAST(len(toks) AS DOUBLE)"
)
_quality = (
    "CAST(CAST(len(toks) >= 10 AS INT) + CAST(len(toks) <= 2000 AS INT)"
    f" + CAST({_avg_len} >= 2.0 AS INT)"
    f" + CAST({_sw_ratio} >= 0.01 AS INT) AS BIGINT)"
)
EXT_ORACLES["text_quality_score"] = f"""
WITH t AS (SELECT doc_id, text, {_toks} AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       {_avg_len} AS avg_token_len,
       {_sw_ratio} AS stopword_ratio,
       CAST(len(regexp_extract_all(lower(text), '[a-z0-9]')) AS DOUBLE)
         / CAST(length(text) AS DOUBLE) AS alnum_ratio,
       {_quality} AS quality
FROM t
"""

EXT_ORACLES["quantile_bins"] = """
WITH b AS (
  SELECT o_orderkey, o_totalprice,
         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
  FROM orders
)
SELECT CAST(bin AS INT) AS bin, count(*) AS n_orders,
       min(o_totalprice) AS lo, max(o_totalprice) AS hi,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM b GROUP BY 1
"""

from iceberg_examples_spark.operators.llm_pipeline import (  # noqa: E402
    N_EXPORT_SHARDS,
    QUALITY_RATE_SCALE,
    SAMPLE_MOD,
)
from iceberg_examples_spark.sources import python_datasource as PDS  # noqa: E402

_q_rate = f"quality * quality * {QUALITY_RATE_SCALE}"
_cut_ind = " + ".join(
    f"CAST(o_totalprice > c.c{i} AS INT)" for i in range(1, 10)
)
_cut_cols = ", ".join(
    f"quantile_cont(o_totalprice, {i / 10}) AS c{i}" for i in range(1, 10)
)
EXT_ORACLES["quantile_bins_cuts"] = f"""
WITH c AS (SELECT {_cut_cols} FROM orders)
SELECT CAST(1 + {_cut_ind} AS INT) AS bin,
       count(*) AS n_orders,
       min(o_totalprice) AS lo, max(o_totalprice) AS hi,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM orders, c
GROUP BY 1
"""

EXT_ORACLES["quality_weighted_sample"] = f"""
WITH t AS (SELECT doc_id, text, {_toks} AS toks FROM documents),
q AS (SELECT doc_id, {_quality} AS quality FROM t)
SELECT quality, CAST({_q_rate} AS BIGINT) AS rate,
       count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM q
WHERE ({duck_md5_int('CAST(doc_id AS VARCHAR)')}) % {SAMPLE_MOD} < {_q_rate}
GROUP BY 1, 2
"""

_poly_text = duck_poly_hash("text")
EXT_ORACLES["text_fingerprint"] = f"""
SELECT doc_id,
       {_poly_text} AS fingerprint,
       {duck_remix(_poly_text)} AS fingerprint_mix
FROM documents
"""

_tok_h = f"list_transform({_toks}, t -> {duck_remix(duck_md5_int('t') + f' % {REMIX_MOD}')})"
_bit_sums = ",\n       ".join(
    f"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(hh, "
    f"h -> CAST(CASE WHEN h % {2 ** (i + 1)} >= {2 ** i} THEN 1 ELSE -1 END AS BIGINT))), "
    f"(acc, x) -> acc + x) AS bit{i}"
    for i in range(16)
)
_fp_sum = " + ".join(
    f"(CASE WHEN bit{i} >= 0 THEN {2 ** i} ELSE 0 END)" for i in range(16)
)
EXT_ORACLES["text_simhash"] = f"""
WITH h AS (SELECT doc_id, {_tok_h} AS hh FROM documents),
bits AS (
  SELECT doc_id,
       {_bit_sums}
  FROM h
)
SELECT doc_id, CAST({_fp_sum} AS BIGINT) AS simhash FROM bits
"""

# ---- dedup --------------------------------------------------------------

_exact_corpus = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 100
"""

EXT_ORACLES["dedup_exact"] = f"""
WITH corpus AS ({_exact_corpus}),
fp AS (SELECT doc_id, text, {_poly_text} AS fp FROM corpus)
SELECT CAST(min(doc_id) AS BIGINT) AS rep_doc_id,
       count(*) AS n_copies, fp
FROM fp GROUP BY fp, text HAVING count(*) > 1
"""

EXT_ORACLES["dedup_exact_keep"] = f"""
WITH corpus AS ({_exact_corpus}),
fp AS (SELECT doc_id, text, {_poly_text} AS fp FROM corpus)
SELECT CAST(min(doc_id) AS BIGINT) AS doc_id FROM fp GROUP BY fp, text
"""

_near_corpus = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         substring(text, strpos(text, ' ') + 1) AS text
  FROM documents WHERE doc_id < 40
"""
_duck_shingles = (
    "list_distinct([toks[i] || ' ' || toks[least(i + 1, len(toks))] "
    "for i in range(1, greatest(len(toks) - 1, 1) + 1)])"
)
def _duck_int_minhash(seed: int) -> str:
    a, b = affine_params(seed)
    return f"list_min(list_transform(xs, x -> (x * {a} + {b}) % {MOD})) AS mh{seed}"


def _duck_int_combine(parts: list[str]) -> str:
    acc = parts[0]
    for p in parts[1:]:
        acc = f"(({acc}) * 31 + ({p})) % {MOD}"
    return acc


_mh_cols = ",\n       ".join(_duck_int_minhash(seed) for seed in range(N_MINHASH))
_band_case = "CASE b.band_idx " + " ".join(
    f"WHEN {b} THEN "
    + _duck_int_combine([f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)])
    for b in range(N_BANDS - 1)
) + " ELSE " + _duck_int_combine(
    [f"mh{(N_BANDS - 1) * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
) + " END"

EXT_ORACLES["dedup_minhash_lsh"] = f"""
WITH corpus AS ({_near_corpus}),
tok AS (SELECT doc_id, {DUCK_TOKS.format(col='text')} AS toks FROM corpus),
sh AS (SELECT doc_id, {_duck_shingles} AS shingles FROM tok),
xsed AS (SELECT doc_id, shingles,
         list_transform(shingles, s -> {duck_md5_int('s')} % {MOD}) AS xs FROM sh),
sig AS (
  SELECT doc_id, shingles,
       {_mh_cols}
  FROM xsed
),
band AS (
  SELECT doc_id, b.band_idx, {_band_case} AS band_hash
  FROM sig, (VALUES {', '.join(f'({b})' for b in range(N_BANDS))}) b(band_idx)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band a JOIN band b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
verified AS (
  SELECT p.doc_a, p.doc_b,
         CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE)
           AS jaccard
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.doc_a
  JOIN sh sb ON sb.doc_id = p.doc_b
)
SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}
"""

EXT_ORACLES["ngram_jaccard"] = """
WITH g AS (
  SELECT doc_id,
         list_distinct([substring(text, i, 3)
                        for i in range(1, greatest(length(text) - 2, 1) + 1)]) AS grams
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
         / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) AS jaccard3
FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
"""

# ---- similarity ---------------------------------------------------------

_dnorm = DUCK_NORM.format(a="embedding")
_knn_base = f"""
WITH n AS (
  SELECT vec_id, embedding, label, {_dnorm} AS norm FROM embeddings
),
q AS (SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm, label AS cell
      FROM n WHERE vec_id < 5),
c AS (SELECT vec_id AS c_id, embedding AS c_emb, norm AS c_norm, label AS cell
      FROM n WHERE vec_id >= 5),
scored AS (
  SELECT q_id, c_id,
         {DUCK_DOT.format(a='q_emb', b='c_emb')} / (q_norm * c_norm) AS cos_sim
  FROM q JOIN c ON {{join_cond}}
),
ranked AS (
  SELECT q_id, c_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rnk
  FROM scored
)
SELECT q_id, c_id, CAST(rnk AS BIGINT) AS rank, cos_sim FROM ranked WHERE rnk <= 3
"""

EXT_ORACLES["knn_cosine"] = _knn_base.format(join_cond="true")
EXT_ORACLES["knn_cosine_ivf"] = _knn_base.format(join_cond="q.cell = c.cell")

_bucket = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {2 ** i} ELSE 0 END)" for i in range(12)
)
EXT_ORACLES["embedding_neardup"] = f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(embedding, x -> x * CAST(1.01 AS FLOAT)) AS embedding
  FROM embeddings WHERE vec_id < 20
),
n AS (
  SELECT vec_id, embedding,
         CAST({_bucket} AS INT) AS bucket,
         {_dnorm} AS norm
  FROM corpus
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {DUCK_DOT.format(a='a.embedding', b='b.embedding')} / (a.norm * b.norm) AS cos_sim
FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {DUCK_DOT.format(a='a.embedding', b='b.embedding')} / (a.norm * b.norm) >= 0.999
"""

# ---- events -------------------------------------------------------------

EXT_ORACLES["dedup_latest"] = """
SELECT user_id, event_id, ts, event_type, value
FROM (
  SELECT user_id, event_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""

EXT_ORACLES["window_hourly"] = f"""
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       count(*) AS n_events,
       {money_sum_sql('value', scale=100)} AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""

EXT_ORACLES["json_props"] = """
SELECT event_type,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(max(k) AS BIGINT) AS max_k,
       count(*) AS n
FROM (SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
GROUP BY event_type
"""

EXT_ORACLES["sessionize"] = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1
              ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM sess GROUP BY user_id, session_seq
"""

# ---- partitioning / multimodal / streaming ------------------------------

EXT_ORACLES["bucketed_join"] = f"""
SELECT o_orderstatus, count(*) AS n_items,
       {money_sum_sql('l_quantity', scale=100)} AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
"""

EXT_ORACLES["partition_prune"] = f"""
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       count(*) AS n_rows,
       {money_sum_sql('l_extendedprice * (1 - l_discount)', scale=10000)} AS revenue
FROM lineitem
WHERE strftime(l_shipdate, '%Y-%m') = '1996-03'
GROUP BY strftime(l_shipdate, '%Y-%m')
"""

EXT_ORACLES["multimodal_meta"] = """
SELECT 'text-bytes' AS kind, source,
       count(*) AS n_media,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       count(DISTINCT md5(text)) AS n_distinct_payloads
FROM documents
GROUP BY source
"""

# binaryFile ingestion: file sizes are closed-form (the BMP layout is
# deterministic: 54 header bytes + 4-byte-padded 24bpp rows), so the
# oracle recomputes totals for the exported doc subset analytically.
from iceberg_examples_spark.sources.multimodal import IMG_H, IMG_W  # noqa: E402

_BMP_BYTES = 54 + (IMG_W * 3 + (4 - (IMG_W * 3) % 4) % 4) * IMG_H

EXT_ORACLES["binary_files_ingest"] = f"""
SELECT count(*) AS n_files,
       CAST({_BMP_BYTES} * count(*) AS BIGINT) AS total_bytes,
       CAST({_BMP_BYTES} * count(*) AS BIGINT) AS total_content_bytes,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
FROM documents WHERE doc_id % 20 = 0
"""

# Analytic twin of the real BMP encode→decode round trip: the Spark side
# encodes deterministic 13×7 24-bit BMPs and parses the bytes back
# (multimodal.py: encode_bmp/decode_image); the oracle recomputes the
# decoded statistics directly from the generative pixel formula
# b=(d+7x+13y)%256, g=(3d+5x+y)%256, r=(5d+x+11y)%256.  wsum_b weights
# blue by pixel position, so a row-order/stride/channel bug mismatches.
EXT_ORACLES["multimodal_features"] = """
SELECT doc_id AS media_id,
       CAST(13 AS BIGINT) AS width,
       CAST(7 AS BIGINT) AS height,
       CAST(sum((doc_id + 7*x + 13*y) % 256) AS BIGINT) AS sum_b,
       CAST(sum((3*doc_id + 5*x + y) % 256) AS BIGINT) AS sum_g,
       CAST(sum((5*doc_id + x + 11*y) % 256) AS BIGINT) AS sum_r,
       CAST(sum((1 + x + 13*y) * ((doc_id + 7*x + 13*y) % 256)) AS BIGINT)
         AS wsum_b
FROM documents, range(0, 13) x(x), range(0, 7) y(y)
WHERE doc_id < 50
GROUP BY doc_id
"""

EXT_ORACLES["stream_window_hourly"] = EXT_ORACLES["window_hourly"]

EXT_ORACLES["stream_dedup_latest"] = """
SELECT event_type, count(DISTINCT event_id) AS n_events
FROM events GROUP BY event_type
"""

EXT_ORACLES["stream_sessionize"] = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1
              ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
),
agg AS (
  SELECT user_id, session_seq,
         min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
         count(*) AS n_events
  FROM sess GROUP BY user_id, session_seq
)
SELECT user_id, CAST(start_us AS BIGINT) AS start_us,
       CAST(end_us AS BIGINT) AS end_us, n_events
FROM agg a
WHERE session_seq < (SELECT max(session_seq) FROM agg b WHERE b.user_id = a.user_id)
"""

# ---- extended relational ops --------------------------------------------

EXT_ORACLES["project_dates"] = """
SELECT DATE '2020-01-01' AS effective_date,
       DATE '9999-12-31' AS end_date,
       CAST(year(DATE '2020-03-15') AS BIGINT) AS y,
       CAST(month(DATE '2020-03-15') AS BIGINT) AS m,
       CAST(date_diff('day', DATE '2020-01-01', DATE '2020-03-15') AS BIGINT)
         AS days_between
"""

EXT_ORACLES["set_ops"] = """
WITH cn AS (SELECT c_nationkey AS nationkey FROM customer),
sn AS (SELECT s_nationkey AS nationkey FROM supplier)
SELECT nationkey, 'both' AS relation
FROM (SELECT nationkey FROM cn INTERSECT SELECT nationkey FROM sn)
UNION ALL
SELECT nationkey, 'customer_only' AS relation
FROM (SELECT nationkey FROM cn EXCEPT SELECT nationkey FROM sn)
"""

EXT_ORACLES["agg_rollup"] = f"""
SELECT coalesce(o_orderstatus, '<all>') AS status,
       coalesce(o_orderpriority, '<all>') AS priority,
       count(*) AS n_orders,
       {money_sum_sql('o_totalprice', scale=100)} AS total_price
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""

EXT_ORACLES["asof_join"] = """
WITH u AS (
  SELECT event_id, user_id, ts, value, 0 AS is_right,
         CAST(NULL AS DOUBLE) AS click_value, CAST(NULL AS TIMESTAMP) AS click_ts
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT event_id, user_id, ts, value, 1, value, ts
  FROM events WHERE event_type = 'click'
),
carried AS (
  SELECT event_id, user_id, ts, value, is_right,
         last_value(click_value IGNORE NULLS) OVER w AS asof_click_value,
         last_value(click_ts IGNORE NULLS) OVER w AS asof_click_ts
  FROM u
  WINDOW w AS (PARTITION BY user_id
               ORDER BY ts ASC, is_right DESC, event_id ASC
               ROWS UNBOUNDED PRECEDING)
)
SELECT event_id, user_id, ts, value, asof_click_value, asof_click_ts
FROM carried WHERE is_right = 0
"""

EXT_ORACLES["range_join_buckets"] = """
SELECT o_orderkey, count(*) AS n_shipped_30d, min(l_shipdate) AS first_ship
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= o_orderdate
  AND l_shipdate < o_orderdate + INTERVAL 30 DAY
GROUP BY o_orderkey
"""

# ---- skew / pivot / percentiles -----------------------------------------

EXT_ORACLES["salted_agg"] = f"""
SELECT l_returnflag,
       {money_sum_sql('l_quantity', scale=100)} AS sum_qty,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""

EXT_ORACLES["skew_join"] = f"""
SELECT p_brand, count(*) AS n_items,
       {money_sum_sql('l_quantity', scale=100)} AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""

EXT_ORACLES["pivot_status"] = f"""
SELECT l_returnflag,
       {money_sum_sql("CASE WHEN l_linestatus = 'O' THEN l_quantity END", scale=100)}
         AS qty_open,
       {money_sum_sql("CASE WHEN l_linestatus = 'F' THEN l_quantity END", scale=100)}
         AS qty_filled
FROM lineitem GROUP BY l_returnflag
"""

EXT_ORACLES["percentiles"] = """
SELECT o_orderstatus,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.9) AS p90,
       quantile_cont(o_totalprice, 0.99) AS p99
FROM orders GROUP BY o_orderstatus
"""

# approx_stats is self-verifying: the Spark side compares its HLL++ /
# GK-sketch estimates to exact statistics computed in the same plan and
# emits booleans; the oracle emits the same exact values plus literal
# TRUE, so a sketch outside its documented error envelope hash-fails.
EXT_ORACLES["approx_stats"] = """
SELECT o_orderstatus,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
       TRUE AS cd_within_bound,
       TRUE AS p50_within_bound
FROM orders GROUP BY o_orderstatus
"""

# ---- join types / scalars / time travel / metadata ----------------------

EXT_ORACLES["join_semi"] = """
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
"""

EXT_ORACLES["join_anti"] = """
SELECT c_custkey, c_name, c_nationkey
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 300000)
"""

EXT_ORACLES["join_outer"] = """
SELECT n_nationkey, n_name, count(c_custkey) AS n_customers
FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
GROUP BY n_nationkey, n_name
"""

EXT_ORACLES["scalar_funcs"] = """
SELECT c_custkey,
       upper(c_name) AS u,
       lower(c_name) AS l,
       substring(c_name, 1, 8) AS prefix,
       concat_ws(':', c_mktsegment, c_name) AS tag,
       replace(c_name, '#', '-') AS rep,
       CAST(length(c_name) AS BIGINT) AS name_len,
       CASE WHEN c_acctbal > 0 THEN 'pos' ELSE 'nonpos' END AS bal_sign,
       greatest(c_acctbal, 0.0) AS bal_floor
FROM customer
WHERE c_name LIKE '%1%'
"""

EXT_ORACLES["time_travel"] = """
SELECT CAST(0 AS BIGINT) AS version,
       (SELECT count(*) FROM orders WHERE o_orderstatus = 'F') AS n_rows
UNION ALL
SELECT 1,
       (SELECT count(*) FROM orders WHERE o_orderstatus IN ('F', 'O'))
"""

from iceberg_examples_spark.operators.coverage import METADATA_SF_DIR

EXT_ORACLES["metadata_files"] = f"""
SELECT table_name, row_group_id,
       CAST(max(row_group_num_rows) AS BIGINT) AS num_rows,
       CAST(max(row_group_bytes) AS BIGINT) AS total_byte_size
FROM (
  SELECT 'lineitem' AS table_name, row_group_id, row_group_num_rows, row_group_bytes
  FROM parquet_metadata('{METADATA_SF_DIR}/lineitem.parquet')
  UNION ALL
  SELECT 'orders', row_group_id, row_group_num_rows, row_group_bytes
  FROM parquet_metadata('{METADATA_SF_DIR}/orders.parquet')
)
GROUP BY table_name, row_group_id
"""

EXT_ORACLES["bigram_lm_score"] = f"""
WITH toks AS (
  SELECT doc_id, {DUCK_TOKS.format(col='text')} AS tk FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(tk[1:len(tk)-1]) AS w1,
         unnest(tk[2:len(tk)]) AS w2
  FROM toks WHERE len(tk) >= 2
),
bgc AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
ctx AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1)
SELECT b.doc_id, count(*) AS n_bigrams,
       CAST(sum(c2 * 1000000 // c1) AS BIGINT) AS p_scaled_sum,
       CAST(CAST(sum(c2 * 1000000 // c1) AS BIGINT) // count(*) AS BIGINT)
         AS avg_p_scaled
FROM bg b JOIN bgc USING (w1, w2) JOIN ctx USING (w1)
GROUP BY b.doc_id
"""

EXT_ORACLES["python_datasource_scan"] = f"""
WITH g AS (
  SELECT s.range AS shard, s.range * {PDS.PER_SHARD} + i.range AS seq
  FROM range(0, {PDS.N_SHARDS}) s, range(0, {PDS.PER_SHARD}) i
)
SELECT CAST(shard AS INT) AS shard,
       count(*) AS n_urls,
       CAST(sum((seq * {PDS.MIX_MUL} + {PDS.MIX_ADD}) % {PDS.MIX_MOD})
            AS BIGINT) AS total_bytes,
       count(DISTINCT 'doc-' || seq) AS n_distinct_urls
FROM g GROUP BY 1
"""

EXT_ORACLES["stream_to_table"] = EXT_ORACLES["window_hourly"]
EXT_ORACLES["stream_wap_branch"] = EXT_ORACLES["window_hourly"]

EXT_ORACLES["sql_entry"] = f"""
SELECT n_name,
       count(*) AS n_orders,
       {money_sum_sql('o_totalprice', scale=100)} AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

EXT_ORACLES["grouped_median_pandas"] = """
SELECT o_orderpriority,
       quantile_cont(o_totalprice, 0.5) AS median_price,
       count(*) AS n_orders
FROM orders GROUP BY o_orderpriority
"""

EXT_ORACLES["csv_roundtrip"] = f"""
SELECT l_returnflag, count(*) AS n_rows,
       {money_sum_sql('l_quantity', scale=100)} AS sum_qty,
       count(DISTINCT l_orderkey) AS n_orders
FROM lineitem GROUP BY l_returnflag
"""

EXT_ORACLES["orc_roundtrip"] = f"""
SELECT count(*) AS n_rows,
       {money_sum_sql('o_totalprice', scale=100)} AS total
FROM orders WHERE o_orderstatus = 'F'
"""

EXT_ORACLES["avro_roundtrip"] = f"""
SELECT c_mktsegment, count(*) AS n_customers,
       count(DISTINCT c_nationkey) AS n_nations,
       {money_sum_sql('c_acctbal', scale=100)} AS total_bal
FROM customer WHERE c_acctbal > 0.0
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""

EXT_ORACLES["iceberg_native_scan"] = f"""
SELECT o_orderpriority, count(*) AS n_orders,
       {money_sum_sql('o_totalprice', scale=100)} AS total_price
FROM orders WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

EXT_ORACLES["iceberg_native_mor"] = f"""
WITH base AS (
  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
  WHERE c_custkey % 10 <> 3 AND c_mktsegment <> 'MACHINERY'
  UNION ALL
  SELECT CAST(9000000 + i AS BIGINT), 'MACHINERY', 100.0 * i
  FROM range(1, 6) t(i)
)
SELECT c_mktsegment, count(*) AS n_customers,
       {money_sum_sql('c_acctbal', scale=100)} AS total_bal
FROM base GROUP BY c_mktsegment ORDER BY c_mktsegment
"""

EXT_ORACLES["iceberg_export_roundtrip"] = f"""
SELECT count(*) AS n_purchases,
       count(DISTINCT user_id) AS n_users,
       {money_sum_sql('value', scale=100)} AS total_value
FROM events WHERE event_type = 'purchase'
"""

EXT_ORACLES["iceberg_bucket_prune"] = """
SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
WHERE c_custkey IN (1, 50, 101) ORDER BY c_custkey
"""

EXT_ORACLES["iceberg_month_rollup"] = f"""
SELECT count(*) AS n_orders,
       min(CAST(o_orderdate AS DATE)) AS first_day,
       max(CAST(o_orderdate AS DATE)) AS last_day,
       {money_sum_sql('o_totalprice', scale=100)} AS total_price
FROM orders
WHERE o_orderdate >= DATE '1995-03-01' AND o_orderdate < DATE '1995-04-01'
"""

EXT_ORACLES["iceberg_native_schema_evolution"] = f"""
WITH unioned AS (
  SELECT c_custkey, c_name AS c_fullname,
         CAST(NULL AS VARCHAR) AS c_segment, c_acctbal
  FROM customer WHERE c_custkey % 2 = 0
  UNION ALL
  SELECT c_custkey, c_name, c_mktsegment, c_acctbal
  FROM customer WHERE c_custkey % 2 = 1
)
SELECT c_segment, count(*) AS n_rows, count(c_fullname) AS n_named,
       {money_sum_sql('c_acctbal', scale=100)} AS total_bal
FROM unioned GROUP BY c_segment ORDER BY c_segment NULLS FIRST
"""

EXT_ORACLES["iceberg_native_sql_replay"] = """
SELECT * FROM (VALUES
 (CAST(1 AS BIGINT), 'customer_a', 'lastname-1',
  CAST(NULL AS VARCHAR), CAST(8 AS BIGINT)),
 (2, 'customer_b-updated(with merge sql)',
  'lastname-2-updated(with merge sql)', NULL, 8),
 (3, 'customer_c-insert(with merge sql)',
  'lastname-3-insert(with merge sql)', NULL, 8),
 (4, 'customer_c-insert(with merge *)',
  'lastname-3-insert(with merge *)', 'a@b.com', 8),
 (5, 'customer_b-updated(with merge *)',
  'lastname-2-updated(with merge *)', 'b@c.com', 8),
 (6, 'customer_c-insert(with merge *)', NULL, 'a@b.com', 8),
 (7, 'customer_b-updated(with merge *)', NULL, 'b@c.com', 8)
) AS t(customer_id, name, lastname, email, n_commits)
ORDER BY customer_id
"""

EXT_ORACLES["iceberg_bounds_prune"] = """
SELECT c_custkey, c_mktsegment, c_acctbal, CAST(1 AS INT) AS n_files_opened
FROM customer WHERE c_custkey IN (1, 50, 101) ORDER BY c_custkey
"""

EXT_ORACLES["iceberg_native_spec_evolution"] = f"""
SELECT 'key_101' AS probe, count(*) AS n_rows,
       {money_sum_sql('o_totalprice', scale=100)} AS total_price
FROM orders WHERE o_orderkey = 101
UNION ALL
SELECT 'status_F' AS probe, count(*) AS n_rows,
       {money_sum_sql('o_totalprice', scale=100)} AS total_price
FROM orders WHERE o_orderstatus = 'F'
ORDER BY probe
"""

EXT_ORACLES["stream_to_iceberg"] = f"""
SELECT count(*) AS n_clicks,
       count(DISTINCT user_id) AS n_users,
       {money_sum_sql('value', scale=100)} AS total_value,
       CAST(0 AS INT) AS replay_delta
FROM events WHERE event_type = 'click'
"""

EXT_ORACLES["iceberg_incremental_read"] = f"""
SELECT 'incremental_1_to_3' AS probe, event_type,
       count(*) AS n_rows,
       {money_sum_sql('value', scale=100)} AS total_value
FROM events WHERE event_type IN ('purchase', 'view')
GROUP BY event_type
UNION ALL
SELECT 'after_rollback_to_2' AS probe, event_type,
       count(*) AS n_rows,
       {money_sum_sql('value', scale=100)} AS total_value
FROM events WHERE event_type IN ('click', 'purchase')
GROUP BY event_type
ORDER BY probe, event_type
"""

EXT_ORACLES["iceberg_native_upsert"] = f"""
WITH upserted AS (
  SELECT c_custkey, c_name, c_acctbal FROM customer
  WHERE c_custkey % 100 <> 0
  UNION ALL
  SELECT c_custkey, 'updated-' || c_name, c_custkey * 2.0 FROM customer
  WHERE c_custkey % 100 = 0
  UNION ALL
  SELECT * FROM (VALUES
    (CAST(9000001 AS BIGINT), 'new-1', 10.0),
    (CAST(9000002 AS BIGINT), 'new-2', 20.0)
  ) v(c_custkey, c_name, c_acctbal)
)
SELECT count(*) AS n_rows,
       count(CASE WHEN c_name LIKE 'updated-%' THEN 1 END) AS n_updated,
       {money_sum_sql('c_acctbal', scale=100)} AS total_bal,
       CAST(2 AS BIGINT) AS n_snapshots
FROM upserted
"""

EXT_ORACLES["iceberg_native_manifests"] = """
SELECT CAST(0 AS INT) AS content, CAST(3 AS BIGINT) AS n_manifests,
       (SELECT count(*) FROM nation) AS added_rows
UNION ALL
SELECT CAST(1 AS INT), CAST(1 AS BIGINT), CAST(1 AS BIGINT)
ORDER BY content
"""

EXT_ORACLES["iceberg_native_partitions"] = """
SELECT o_orderstatus, count(*) AS record_count
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

EXT_ORACLES["iceberg_rewrite_deletes"] = f"""
SELECT count(*) AS n_rows,
       {money_sum_sql('c_acctbal', scale=100)} AS total_bal,
       CAST(6 AS INT) AS delete_files_before,
       CAST(1 AS INT) AS delete_files_after
FROM customer WHERE c_custkey % 10 NOT IN (0, 1, 2)
"""

EXT_ORACLES["iceberg_delete_modes"] = f"""
SELECT 'merge-on-read' AS mode, count(*) AS n_rows,
       {money_sum_sql('o_totalprice', scale=100)} AS total_price,
       true AS has_delete_files
FROM orders WHERE o_orderstatus <> 'F'
UNION ALL
SELECT 'copy-on-write', count(*),
       {money_sum_sql('o_totalprice', scale=100)}, false
FROM orders WHERE o_orderstatus <> 'F'
ORDER BY mode
"""

EXT_ORACLES["iceberg_update_modes"] = f"""
WITH updated AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderstatus = 'F'
              THEN o_totalprice * CAST(2 AS DOUBLE)
              ELSE o_totalprice END AS o_totalprice
  FROM orders
)
SELECT 'copy-on-write' AS mode, count(*) AS n_rows,
       {money_sum_sql('o_totalprice', scale=100)} AS total_price,
       false AS has_delete_files, CAST(2 AS BIGINT) AS n_snapshots
FROM updated
UNION ALL
SELECT 'merge-on-read', count(*),
       {money_sum_sql('o_totalprice', scale=100)},
       true, CAST(2 AS BIGINT)
FROM updated
ORDER BY mode
"""

EXT_ORACLES["iceberg_changelog"] = f"""
WITH base AS (
  SELECT event_id, user_id, event_type, value FROM events
  WHERE event_type IN ('click', 'purchase')
),
upd AS (
  SELECT * FROM base
  WHERE event_type = 'click' AND value <= 10.0 AND NOT value > 120.0
)
SELECT CAST(2 AS BIGINT) AS _commit_snapshot_id, 'insert' AS _change_type,
       event_type, count(*) AS n_rows,
       {money_sum_sql('value', scale=100)} AS total_value
FROM base WHERE event_type = 'purchase' GROUP BY event_type
UNION ALL
SELECT 3, 'delete', event_type, count(*),
       {money_sum_sql('value', scale=100)}
FROM base WHERE value > 120.0 GROUP BY event_type
UNION ALL
SELECT 4, 'delete', event_type, count(*),
       {money_sum_sql('value', scale=100)}
FROM upd GROUP BY event_type
UNION ALL
SELECT 4, 'insert', event_type, count(*),
       {money_sum_sql('value + 1000.0', scale=100)}
FROM upd GROUP BY event_type
ORDER BY _commit_snapshot_id, _change_type, event_type
"""

EXT_ORACLES["iceberg_wap_dml"] = """
SELECT * FROM (VALUES
 (CAST(1 AS BIGINT), 'customer_a', 'lastname-1', CAST(2 AS BIGINT)),
 (CAST(2 AS BIGINT), 'customer_b-updated(with merge sql)',
  'lastname-2-updated(with merge sql)', CAST(2 AS BIGINT)),
 (CAST(3 AS BIGINT), 'customer_c-insert(with merge sql)',
  'lastname-3-insert(with merge sql)', CAST(2 AS BIGINT))
) AS t(customer_id, name, lastname, n_main_before)
ORDER BY customer_id
"""

EXT_ORACLES["stream_from_iceberg"] = f"""
SELECT event_type, count(*) AS n_rows,
       {money_sum_sql('value', scale=100)} AS total_value
FROM events WHERE event_type IN ('click', 'purchase', 'view')
GROUP BY event_type ORDER BY event_type
"""

EXT_ORACLES["iceberg_native_wap"] = f"""
SELECT count(*) AS n_after,
       (SELECT count(*) FROM customer WHERE c_acctbal > 0.0)
         AS n_main_before,
       count(*) AS n_branch,
       {money_sum_sql('c_acctbal', scale=100)} AS total_bal
FROM customer
"""

EXT_ORACLES["iceberg_native_time_travel"] = """
SELECT 1 AS snapshot_id, count(*) AS n_rows,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
FROM lineitem WHERE l_linenumber = 1
UNION ALL
SELECT 2 AS snapshot_id, count(*) AS n_rows,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
FROM lineitem WHERE l_linenumber <= 2
"""

EXT_ORACLES["xml_roundtrip"] = f"""
SELECT s_nationkey, count(*) AS n_suppliers,
       {money_sum_sql('s_acctbal', scale=100)} AS total_bal
FROM supplier GROUP BY s_nationkey
"""

EXT_ORACLES["mixture_temperature"] = f"""
WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
r AS (SELECT source,
             CAST(floor({SAMPLE_MOD} * sqrt(CAST(min(n_s) OVER () AS DOUBLE)
                                     / CAST(n_s AS DOUBLE))) AS BIGINT) AS rate
      FROM c)
SELECT d.source, r.rate,
       count(*) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM documents d JOIN r ON d.source = r.source
WHERE ({duck_md5_int('CAST(doc_id AS VARCHAR)')}) % {SAMPLE_MOD} < r.rate
GROUP BY d.source, r.rate
"""

EXT_ORACLES["jsonl_shard_export"] = f"""
SELECT CAST(({duck_md5_int('CAST(doc_id AS VARCHAR)')}) % {N_EXPORT_SHARDS}
            AS INT) AS shard,
       count(*) AS n_docs,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_text_bytes,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM documents GROUP BY 1
"""

EXT_ORACLES["explode_tokens"] = f"""
SELECT token, count(*) AS n
FROM (SELECT unnest({DUCK_TOKS.format(col='text')}) AS token FROM documents)
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 20
"""

EXT_ORACLES["deterministic_sample"] = f"""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM orders
WHERE ({duck_md5_int('CAST(o_orderkey AS VARCHAR)')}) % 10 = 0
"""

# dedup_components: transitive closure of the (small) verified near-dup
# pair graph, then min reachable id per node. The edge list is exactly the
# dedup_minhash_lsh oracle's output.
EXT_ORACLES["dedup_components"] = f"""
WITH RECURSIVE lsh AS ({EXT_ORACLES['dedup_minhash_lsh']}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM lsh
  UNION
  SELECT doc_b, doc_a FROM lsh
),
nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
)
SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a
"""

# cdc_pipeline closed form: ts=3 batch (+100, %7) beats the later ts=2
# batch (+999, %3) only where both applied (%21); the second ts=2 batch
# (+555) is rejected everywhere by the monotonic guard.
EXT_ORACLES["cdc_pipeline"] = """
SELECT c_custkey, c_name,
       CASE WHEN c_custkey % 21 = 0 THEN c_acctbal + 100.0
            WHEN c_custkey % 3 = 0 THEN c_acctbal + 999.0
            WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
            ELSE c_acctbal END AS c_acctbal,
       CAST(CASE WHEN c_custkey % 21 = 0 THEN 3
                 WHEN c_custkey % 3 = 0 THEN 2
                 WHEN c_custkey % 7 = 0 THEN 3
                 ELSE 1 END AS INT) AS change_ts
FROM customer
"""

# ---- TPC-H-shaped additions ---------------------------------------------

EXT_ORACLES["tpch_q4"] = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""

EXT_ORACLES["tpch_q7"] = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       {money_sum_sql('l_extendedprice * (1 - l_discount)', scale=10000)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4')
  AND n2.n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4')
  AND n1.n_name <> n2.n_name
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
"""

EXT_ORACLES["tpch_q12"] = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_linestatus
"""

EXT_ORACLES["tpch_q14"] = f"""
SELECT 100.0
       * ({money_sum_sql("CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END", scale=10000)})
       / ({money_sum_sql('l_extendedprice * (1 - l_discount)', scale=10000)})
       AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
"""

EXT_ORACLES["tpch_q18"] = f"""
WITH big AS (
  SELECT l_orderkey, {money_sum_sql('l_quantity', scale=100)} AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {money_sum_sql('l_quantity', scale=100)} > 150.0
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey ASC
LIMIT 20
"""

EXT_ORACLES["tpch_q19"] = f"""
SELECT {money_sum_sql('l_extendedprice * (1 - l_discount)', scale=10000)} AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size <= 30 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size <= 50 AND l_quantity BETWEEN 20 AND 40)
"""

EXT_ORACLES["running_totals"] = f"""
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(sum({money_cents_sql('o_totalprice', scale=100)})
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100.0
         AS running_total,
       lag(o_orderkey) OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey) AS prev_orderkey
FROM orders
WHERE o_custkey < 200
"""

EXT_ORACLES["agg_cube"] = """
SELECT coalesce(o_orderstatus, '<all>') AS status,
       coalesce(o_orderpriority, '<all>') AS priority,
       count(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

EXT_ORACLES["collect_sets"] = """
SELECT c_nationkey,
       array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
       CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
FROM customer GROUP BY c_nationkey
"""

EXT_ORACLES["tpch_q10"] = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       {money_sum_sql('l_extendedprice * (1 - l_discount)', scale=10000)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""

EXT_ORACLES["tpch_q15"] = f"""
WITH revenue AS (
  SELECT l_suppkey,
         {money_sum_sql('l_extendedprice * (1 - l_discount)', scale=10000)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""

# ---- session_window + stream-stream join --------------------------------

# session_window semantics: window = [first_ts, last_ts + gap), so an event
# exactly `gap` after the previous one opens a NEW session — the flag is
# `>= gap`, unlike sessionize's `> gap`. Shared by the batch operator and
# its streaming twin (complete mode retains all sessions).
_SESSION_WINDOW_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000 THEN 1
              ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM sess GROUP BY user_id, session_seq
"""

EXT_ORACLES["session_window_agg"] = _SESSION_WINDOW_SQL
EXT_ORACLES["stream_session_window"] = _SESSION_WINDOW_SQL

EXT_ORACLES["stream_stream_join"] = """
SELECT c.user_id AS user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts,
       epoch_us(p.ts) - epoch_us(c.ts) AS delay_us
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts
 AND epoch_us(p.ts) - epoch_us(c.ts) <= 600000000
"""

# ---- z-order clustering --------------------------------------------------

from iceberg_examples_spark.operators.partitioning import (
    zorder_sql_duckdb_scaled,
)

EXT_ORACLES["zorder_cells"] = f"""
WITH zed AS (
  SELECT CAST({zorder_sql_duckdb_scaled()} AS BIGINT) AS z
  FROM lineitem
)
SELECT CAST(z // 1024 AS BIGINT) AS z_cell,
       count(*) AS n_rows,
       min(z) AS z_min,
       max(z) AS z_max
FROM zed GROUP BY 1
"""

# ---- TPC-H completion set (operators/tpch_full.py) -----------------------

from iceberg_examples_spark.functions.exact import money_avg_sql

# derived partsupp stand-in shared by q2/q16/q20 (TESTDATA has no partsupp)
_PS_SQL = """
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         min(l_extendedprice / l_quantity) AS ps_supplycost,
         sum(CAST(l_quantity AS BIGINT)) AS ps_availqty
  FROM lineitem GROUP BY 1, 2
"""

EXT_ORACLES["tpch_q1"] = f"""
SELECT l_returnflag, l_linestatus,
       {money_sum_sql('l_quantity', scale=100)} AS sum_qty,
       {money_sum_sql('l_extendedprice', scale=100)} AS sum_base_price,
       {money_sum_sql('l_extendedprice * (1 - l_discount)', scale=10000)} AS sum_disc_price,
       {money_sum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', scale=1000000)} AS sum_charge,
       {money_avg_sql('l_quantity', scale=100)} AS avg_qty,
       {money_avg_sql('l_extendedprice', scale=100)} AS avg_price,
       {money_avg_sql('l_discount', scale=100)} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

EXT_ORACLES["tpch_q2"] = f"""
WITH ps AS ({_PS_SQL}),
eu AS (
  SELECT s_acctbal, s_name, n_name, p_partkey, ps_supplycost,
         min(ps_supplycost) OVER (PARTITION BY p_partkey) AS min_cost
  FROM ps
  JOIN part ON ps_partkey = p_partkey
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_size = 15 AND p_type = 'LARGE' AND r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, p_partkey, ps_supplycost
FROM eu WHERE ps_supplycost = min_cost
ORDER BY s_acctbal DESC, p_partkey ASC, s_name ASC
LIMIT 20
"""

_Q8_NUM = money_sum_sql(
    "CASE WHEN supp_nation = 'NATION_1' "
    "THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END",
    scale=10000,
)
_Q8_DEN = money_sum_sql("l_extendedprice * (1 - l_discount)", scale=10000)
EXT_ORACLES["tpch_q8"] = f"""
WITH j AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice, l_discount, n2.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
)
SELECT o_year, ({_Q8_NUM}) / ({_Q8_DEN}) AS mkt_share
FROM j GROUP BY o_year
"""

EXT_ORACLES["tpch_q9"] = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       {money_sum_sql('l_extendedprice * (1 - l_discount) - 0.1 * p_retailprice * l_quantity', scale=10000)} AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""

EXT_ORACLES["tpch_q11"] = f"""
WITH n3 AS (
  SELECT l_partkey, l_extendedprice
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
),
pv AS (
  SELECT l_partkey, {money_sum_sql('l_extendedprice', scale=100)} AS part_value
  FROM n3 GROUP BY 1
),
tot AS (
  SELECT {money_sum_sql('l_extendedprice', scale=100)} AS total_value FROM n3
)
SELECT l_partkey, part_value FROM pv, tot
WHERE part_value > 0.001 * total_value
"""

EXT_ORACLES["tpch_q13"] = """
WITH co AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist FROM co GROUP BY c_count
"""

EXT_ORACLES["tpch_q16"] = f"""
WITH ps AS ({_PS_SQL})
SELECT p_brand, p_type, p_size,
       count(DISTINCT ps_suppkey) AS supplier_cnt
FROM ps JOIN part ON ps_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""

EXT_ORACLES["tpch_q17"] = f"""
WITH j AS (
  SELECT l_quantity, l_extendedprice,
         CAST(sum(CAST(l_quantity AS BIGINT))
                OVER (PARTITION BY l_partkey) AS DOUBLE)
           / count(*) OVER (PARTITION BY l_partkey) AS part_avg_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#3'
)
SELECT ({money_sum_sql('l_extendedprice', scale=100)}) / 7.0 AS avg_yearly
FROM j WHERE l_quantity < 0.2 * part_avg_qty
"""

EXT_ORACLES["tpch_q20"] = f"""
WITH ps AS ({_PS_SQL}),
q96 AS (
  SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS BIGINT)) AS qty_1996
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY 1, 2
),
qual AS (
  SELECT DISTINCT ps_suppkey
  FROM ps
  JOIN part ON ps_partkey = p_partkey
  JOIN q96 ON ps_partkey = q96.l_partkey AND ps_suppkey = q96.l_suppkey
  WHERE p_type = 'SMALL' AND ps_availqty > 0.5 * qty_1996
)
SELECT s_name, s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_2'
  AND s_suppkey IN (SELECT ps_suppkey FROM qual)
"""

EXT_ORACLES["tpch_q21"] = """
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders ON l1.l_orderkey = o_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE l1.l_returnflag = 'R' AND o_orderstatus = 'F' AND n_name = 'NATION_4'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""

EXT_ORACLES["tpch_q22"] = f"""
WITH seg AS (
  SELECT c_custkey, c_acctbal, CAST(c_custkey % 10 AS INTEGER) AS cntryseg
  FROM customer
  WHERE CAST(c_custkey % 10 AS INTEGER) IN (1, 2, 3, 4, 5, 6, 7)
),
ab AS (
  SELECT {money_avg_sql('c_acctbal', scale=100)} AS avg_bal
  FROM seg WHERE c_acctbal > 0.0
)
SELECT cntryseg, count(*) AS numcust,
       {money_sum_sql('c_acctbal', scale=100)} AS totacctbal
FROM seg, ab
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
GROUP BY cntryseg
"""

EXT_ORACLES["bloom_prune_join"] = f"""
SELECT o_orderpriority,
       count(*) AS n_lines,
       {money_sum_sql('l_extendedprice * (1 - l_discount)', scale=10000)} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_totalprice > 400000
GROUP BY o_orderpriority
"""

# ---- relational k-means (operators/clustering.py) ------------------------

from iceberg_examples_spark.operators.clustering import (
    K_LARGE,
    NITER_LARGE,
    oracle_kmeans_sql,
    oracle_knn_kmeans_sql,
    oracle_pq_adc_sql,
    oracle_pq_codes_sql,
    oracle_semantic_dedup_sql,
)

EXT_ORACLES["semantic_dedup"] = oracle_semantic_dedup_sql()
EXT_ORACLES["kmeans_clusters"] = oracle_kmeans_sql()
EXT_ORACLES["kmeans_large"] = oracle_kmeans_sql(k=K_LARGE, niter=NITER_LARGE)
EXT_ORACLES["knn_kmeans_ivf"] = oracle_knn_kmeans_sql()
EXT_ORACLES["pq_codes"] = oracle_pq_codes_sql()
EXT_ORACLES["pq_adc_topk"] = oracle_pq_adc_sql()

EXT_ORACLES["stream_static_join"] = f"""
SELECT c_nationkey, event_type, count(*) AS n_events,
       {money_sum_sql('value', scale=100)} AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""

EXT_ORACLES["incremental_view"] = f"""
SELECT o_orderpriority, count(*) AS n_orders,
       {money_sum_sql('o_totalprice', scale=100)} AS total_value
FROM orders GROUP BY 1
"""

EXT_ORACLES["udtf_chunks"] = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[ \\t\\n\\r\\f\\v]+'), x -> x <> '') AS words
  FROM documents
),
c AS (
  SELECT doc_id, words,
         unnest(range(0, CAST(ceil(len(words) / 32.0) AS BIGINT))) AS ci
  FROM w
)
SELECT doc_id,
       CAST(ci AS INTEGER) AS chunk_idx,
       array_to_string(list_slice(words, ci * 32 + 1, ci * 32 + 32),
                       ' ') AS chunk_text,
       CAST(least(32, len(words) - ci * 32) AS INTEGER) AS n_words
FROM c
"""

EXT_ORACLES["window_sliding"] = f"""
WITH x AS (
  SELECT event_type, value, epoch_us(ts) AS us, unnest(range(0, 4)) AS k
  FROM events
),
wnd AS (
  SELECT event_type, value,
         (us // 900000000) * 900000000 - k * 900000000 AS ws
  FROM x
  WHERE (us // 900000000) * 900000000 - k * 900000000 > us - 3600000000
)
SELECT make_timestamp(ws) AS window_start, event_type,
       count(*) AS n_events,
       {money_sum_sql('value', scale=100)} AS sum_value
FROM wnd GROUP BY 1, 2
"""

EXT_ORACLES["train_test_split"] = f"""
SELECT lang,
       {duck_train_val_split('doc_id')} AS split,
       count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM documents GROUP BY 1, 2
"""

# ---- LLM data-prep capstone (operators/llm_pipeline.py) ------------------
# Recomposes the SAME stage fragments the individual oracles use
# (tokenization, quality folds, poly fingerprint, MinHash bands, Jaccard
# verify, md5 split hash) so the end-to-end pipeline is hash-checked as
# one query.


EXT_ORACLES["llm_prep_pipeline"] = f"""
WITH t AS (SELECT doc_id, lang, text, {_toks} AS toks FROM documents),
q AS (SELECT doc_id, lang, text, CAST(len(toks) AS BIGINT) AS n_tokens,
             {_quality} AS quality
      FROM t),
kept1 AS (SELECT doc_id, lang, text, n_tokens FROM q WHERE quality >= 4),
fp AS (SELECT doc_id, lang, text, n_tokens, {_poly_text} AS fp FROM kept1),
reps AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp, text),
kept2 AS (SELECT f.doc_id, f.lang, f.text, f.n_tokens
          FROM fp f JOIN reps r USING (doc_id)),
ptok AS (SELECT doc_id, {DUCK_TOKS.format(col='text')} AS toks FROM kept2),
psh AS (SELECT doc_id, {_duck_shingles} AS shingles FROM ptok),
pxs AS (SELECT doc_id, shingles,
        list_transform(shingles, s -> {duck_md5_int('s')} % {MOD}) AS xs
        FROM psh),
psig AS (SELECT doc_id, shingles, {_mh_cols} FROM pxs),
pband AS (
  SELECT doc_id, b.band_idx, {_band_case} AS band_hash
  FROM psig, (VALUES {', '.join(f'({b})' for b in range(N_BANDS))}) b(band_idx)
),
ppairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pband a JOIN pband b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
pver AS (
  SELECT p.doc_a, p.doc_b,
         CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles)))
                  AS DOUBLE) AS jaccard
  FROM ppairs p
  JOIN psh sa ON sa.doc_id = p.doc_a
  JOIN psh sb ON sb.doc_id = p.doc_b
),
pdrop AS (SELECT DISTINCT doc_b AS doc_id FROM pver
          WHERE jaccard >= {JACCARD_THRESHOLD}),
kept3 AS (SELECT * FROM kept2
          WHERE doc_id NOT IN (SELECT doc_id FROM pdrop))
SELECT lang,
       {duck_train_val_split('doc_id')} AS split,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM kept3 GROUP BY 1, 2
"""

EXT_ORACLES["unpivot_metrics"] = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val
FROM lineitem WHERE l_orderkey < 1000
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
FROM lineitem WHERE l_orderkey < 1000
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
FROM lineitem WHERE l_orderkey < 1000
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
FROM lineitem WHERE l_orderkey < 1000
"""

EXT_ORACLES["set_ops_all"] = """
SELECT 'both' AS tag, o_custkey FROM (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
  INTERSECT ALL
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
UNION ALL
SELECT 'only_f' AS tag, o_custkey FROM (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
  EXCEPT ALL
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
"""

EXT_ORACLES["window_rank_funcs"] = """
SELECT o_custkey, o_orderkey,
       lag(o_totalprice) OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       percent_rank() OVER w AS pct_rank,
       CAST(dense_rank() OVER w AS INTEGER) AS drank
FROM orders
WHERE o_custkey < 200
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""

EXT_ORACLES["map_type_ops"] = """
SELECT o_custkey,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
       count(DISTINCT o_orderstatus) AS n_statuses
FROM orders WHERE o_custkey < 500
GROUP BY o_custkey
"""

EXT_ORACLES["merge_upsert_scale"] = f"""
WITH h AS (
  SELECT *, ({duck_md5_int("CAST(o_orderkey AS VARCHAR)")}) % 10 AS hb
  FROM orders
),
final AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN hb = 0 THEN o_totalprice + 1000.0
              ELSE o_totalprice END AS o_totalprice
  FROM h
  UNION ALL
  SELECT -(o_orderkey + 1) AS o_orderkey, o_orderstatus, o_totalprice
  FROM h WHERE hb = 1
)
SELECT o_orderstatus, count(*) AS n_orders,
       {money_sum_sql('o_totalprice', scale=100)} AS total
FROM final GROUP BY o_orderstatus
"""

EXT_ORACLES["range_frame_agg"] = f"""
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(coalesce(sum({money_cents_sql('o_totalprice', scale=100)})
              OVER w, 0) AS DOUBLE) / 100.0 AS trailing_90d_total,
       CAST(coalesce(count(*) OVER w, 0) AS BIGINT) AS trailing_90d_orders
FROM orders
WHERE o_custkey < 200
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY CAST(date_diff('day', TIMESTAMP '1970-01-01 00:00:00',
                                     o_orderdate) AS BIGINT)
             RANGE BETWEEN 90 PRECEDING AND 1 PRECEDING)
"""

EXT_ORACLES["json_struct_parse"] = """
SELECT event_type,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       count(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_with_k
FROM events GROUP BY event_type
"""

EXT_ORACLES["recursive_month_series"] = """
WITH RECURSIVE bounds AS (
  SELECT date_trunc('month', min(o_orderdate)) AS lo,
         date_trunc('month', max(o_orderdate)) AS hi
  FROM orders
),
months(m) AS (
  SELECT lo FROM bounds
  UNION ALL
  SELECT m + INTERVAL 1 MONTH FROM months, bounds WHERE m < hi
),
per_month AS (
  SELECT date_trunc('month', o_orderdate) AS m2, count(*) AS n
  FROM orders GROUP BY 1
)
SELECT CAST(months.m AS DATE) AS month_start,
       CAST(coalesce(per_month.n, 0) AS BIGINT) AS n_orders
FROM months LEFT JOIN per_month ON months.m = per_month.m2
"""

EXT_ORACLES["variant_json_ops"] = """
SELECT event_type,
       count(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT)) AS n_distinct_k,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type
"""

EXT_ORACLES["lateral_topn"] = """
SELECT c.c_custkey, t.o_orderkey, t.o_orderdate, t.o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_orderdate, o_totalprice
  FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_orderdate DESC, o_orderkey DESC
  LIMIT 2
) t
WHERE c.c_custkey < 100
"""

EXT_ORACLES["grouping_sets_agg"] = f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
            AS BIGINT) AS gid,
       count(*) AS n_orders,
       {money_sum_sql('o_totalprice', scale=100)} AS total
FROM orders
GROUP BY GROUPING SETS (
  (o_orderstatus, o_orderpriority), (o_orderstatus), ()
)
"""

EXT_ORACLES["locf_fill"] = """
SELECT user_id, event_id, event_type,
       last_value(CASE WHEN event_type = 'purchase' THEN value END
                  IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS locf_value
FROM events WHERE user_id < 50
"""

# ---- sequence packing + mixture sampling (operators/llm_pipeline.py) -----

from iceberg_examples_spark.operators.llm_pipeline import (  # noqa: E402
    BIN_TOKENS,
    SHARD_DOCS,
)

EXT_ORACLES["sequence_packing"] = f"""
WITH t AS (SELECT doc_id, {_toks} AS toks FROM documents),
q AS (SELECT doc_id, doc_id // {SHARD_DOCS} AS shard_id,
             CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
off AS (
  SELECT doc_id, shard_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard_id
                ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS o
  FROM q
)
SELECT shard_id, o // {BIN_TOKENS} AS bin_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM off GROUP BY 1, 2
"""

EXT_ORACLES["corpus_mixture"] = f"""
WITH rated AS (
  SELECT doc_id, source,
         CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 50
                     WHEN 'src2' THEN 25 ELSE 0 END AS keep_rate
  FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM rated
WHERE ({duck_md5_int("CAST(doc_id AS VARCHAR)")}) % 100 < keep_rate
GROUP BY source
"""

EXT_ORACLES["value_histogram"] = f"""
SELECT CASE WHEN o_totalprice < 0.0 THEN CAST(0 AS BIGINT)
            WHEN o_totalprice >= 600000.0 THEN CAST(21 AS BIGINT)
            ELSE CAST(floor(o_totalprice / 30000.0) AS BIGINT) + 1
       END AS bucket,
       count(*) AS n_orders,
       {money_sum_sql('o_totalprice', scale=100)} AS bucket_total
FROM orders GROUP BY 1
"""

# ---- corpus quality / retrieval (operators/llm_quality.py) --------------
# The scoring formulas are the SAME strings evaluated by Spark (see the
# module docstring of operators/llm_quality.py for the bit-exactness
# argument: only +-*/ on doubles, pinned association order, no
# transcendentals).

from iceberg_examples_spark.operators.llm_quality import (  # noqa: E402
    BM25_QUERY_TERMS,
    BM25_TOPK,
    CONTAM_NGRAM,
    REPETITION_MAX_FRAC,
    bm25_total_sql,
)

_DOC_TOKS = DUCK_TOKS.format(col="text")

EXT_ORACLES["tfidf_topterms"] = f"""
WITH t AS (SELECT doc_id, {_DOC_TOKS} AS toks FROM documents),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM t)
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
nd AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf AS DOUBLE) * n_docs / df AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN nd
),
ranked AS (
  SELECT doc_id, term, score,
         CAST(row_number() OVER (
           PARTITION BY doc_id ORDER BY score DESC, term ASC
         ) AS INTEGER) AS rk
  FROM scored
)
SELECT doc_id, term, score, rk FROM ranked WHERE rk <= 3
"""

_bm25_tf_cols = ",\n         ".join(
    f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE) AS tf_{t}"
    for t in BM25_QUERY_TERMS
)
_bm25_df_cols = ",\n         ".join(
    f"CAST(sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{t}"
    for t in BM25_QUERY_TERMS
)

EXT_ORACLES["bm25_search"] = f"""
WITH t AS (SELECT doc_id, {_DOC_TOKS} AS toks FROM documents),
per_doc AS (
  SELECT doc_id,
         CAST(len(toks) AS DOUBLE) AS dl,
         {_bm25_tf_cols}
  FROM t
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS nd,
         sum(dl) / CAST(count(*) AS DOUBLE) AS avgdl,
         {_bm25_df_cols}
  FROM per_doc
),
scored AS (
  SELECT doc_id, ({bm25_total_sql()}) AS bm25
  FROM per_doc CROSS JOIN stats
)
SELECT doc_id, bm25 FROM scored
WHERE bm25 > 0.0
ORDER BY bm25 DESC, doc_id ASC
LIMIT {BM25_TOPK}
"""

EXT_ORACLES["hybrid_rrf_search"] = f"""
WITH t AS (SELECT doc_id, {_DOC_TOKS} AS toks FROM documents),
per_doc AS (
  SELECT doc_id,
         CAST(len(toks) AS DOUBLE) AS dl,
         {_bm25_tf_cols}
  FROM t
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS nd,
         sum(dl) / CAST(count(*) AS DOUBLE) AS avgdl,
         {_bm25_df_cols}
  FROM per_doc
),
lex_top AS (
  SELECT doc_id, ({bm25_total_sql()}) AS bm25
  FROM per_doc CROSS JOIN stats
  WHERE ({bm25_total_sql()}) > 0.0
  ORDER BY bm25 DESC, doc_id ASC
  LIMIT 50
),
lex AS (
  SELECT doc_id AS id,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT)
           AS r_lex
  FROM lex_top
),
n AS (SELECT vec_id, embedding, {DUCK_NORM.format(a="embedding")} AS norm
      FROM embeddings),
q AS (SELECT embedding AS q_emb, norm AS q_norm FROM n WHERE vec_id = 0),
dense_top AS (
  SELECT vec_id AS id,
         {DUCK_DOT.format(a="q_emb", b="embedding")} / (q_norm * norm)
           AS cos_sim
  FROM n CROSS JOIN q
  WHERE vec_id <> 0
  ORDER BY cos_sim DESC, id ASC
  LIMIT 50
),
dense AS (
  SELECT id,
         CAST(row_number() OVER (ORDER BY cos_sim DESC, id ASC) AS BIGINT)
           AS r_dense
  FROM dense_top
),
fused AS (
  SELECT COALESCE(lex.id, dense.id) AS id, r_lex, r_dense,
         COALESCE(CAST(1 AS DOUBLE) / (r_lex + 60), CAST(0 AS DOUBLE))
         + COALESCE(CAST(1 AS DOUBLE) / (r_dense + 60), CAST(0 AS DOUBLE))
           AS rrf
  FROM lex FULL OUTER JOIN dense ON lex.id = dense.id
)
SELECT id, r_lex, r_dense, rrf FROM fused ORDER BY rrf DESC, id ASC LIMIT 10
"""

EXT_ORACLES["repetition_topgram"] = f"""
WITH t AS (SELECT doc_id, {_DOC_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id,
         unnest([toks[i] || ' ' || toks[i + 1]
                 for i in range(1, len(toks))]) AS gram
  FROM t WHERE len(toks) >= 2
),
counts AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
per_doc AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_bigrams,
         CAST(max(cnt) AS BIGINT) AS top_count
  FROM counts GROUP BY doc_id
)
SELECT doc_id, n_bigrams, top_count,
       CAST(top_count AS DOUBLE) / n_bigrams AS top_frac,
       CAST(top_count AS DOUBLE) / n_bigrams > {REPETITION_MAX_FRAC} AS flagged
FROM per_doc
"""

_contam_sh = duck_md5_int(
    f"array_to_string(list_slice(toks, i, i + {CONTAM_NGRAM - 1}), ' ')"
)

EXT_ORACLES["contamination_check"] = f"""
WITH t AS (SELECT doc_id, {_DOC_TOKS} AS toks FROM documents),
s AS (
  SELECT doc_id, {duck_train_val_split('doc_id')} AS split,
         unnest(list_distinct([{_contam_sh}
                 for i in range(1, len(toks) - {CONTAM_NGRAM - 2})])) AS sh
  FROM t WHERE len(toks) >= {CONTAM_NGRAM}
),
vh AS (SELECT DISTINCT sh FROM s WHERE split = 'val')
SELECT s.doc_id, count(DISTINCT s.sh) AS n_shared
FROM s JOIN vh USING (sh)
WHERE s.split = 'train'
GROUP BY s.doc_id
"""

# ---- scrubbing / curation (operators/scrub.py) --------------------------

from iceberg_examples_spark.operators.scrub import (  # noqa: E402
    EMAIL_RE,
    PARA_SUM_MOD,
    PARA_TOKENS,
    PHONE_RE,
)

EXT_ORACLES["pii_scrub"] = f"""
WITH planted AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id % 50 AS VARCHAR) ||
         '@example.com or 555-' ||
         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS dirty
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(dirty, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(dirty, '{PHONE_RE}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(dirty, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PHONE_RE}', '<PHONE>', 'g')) AS clean_md5,
       CAST(length(dirty) AS BIGINT) AS dirty_len
FROM planted
"""

_para_h = duck_md5_int("para")

EXT_ORACLES["paragraph_dedup"] = f"""
WITH t AS (SELECT doc_id, {_DOC_TOKS} AS toks FROM documents
           WHERE len({_DOC_TOKS}) >= 1),
p AS (
  SELECT doc_id,
         unnest(range(1, CAST(ceil(len(toks) / CAST({PARA_TOKENS} AS DOUBLE))
                              AS INT) + 1)) AS para_idx,
         unnest(list_transform(
           range(1, CAST(ceil(len(toks) / CAST({PARA_TOKENS} AS DOUBLE))
                         AS INT) + 1),
           i -> array_to_string(
                  toks[((i - 1) * {PARA_TOKENS} + 1):(i * {PARA_TOKENS})],
                  ' '))) AS para
  FROM t
),
h AS (
  SELECT doc_id, para_idx, {_para_h} AS h,
         row_number() OVER (
           PARTITION BY {_para_h} ORDER BY doc_id, para_idx
         ) AS rk
  FROM p
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_paras,
       CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rk = 1 THEN h % {PARA_SUM_MOD} ELSE 0 END)
            AS BIGINT) AS kept_fp
FROM h
GROUP BY doc_id
"""

_strat_h = duck_md5_int("'strat#' || CAST(doc_id AS VARCHAR)")

EXT_ORACLES["stratified_sample_lang"] = f"""
WITH lc AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
nm AS (SELECT min(n_lang) AS n_min FROM lc),
kept AS (
  SELECT d.doc_id, d.lang, lc.n_lang
  FROM documents d JOIN lc USING (lang) CROSS JOIN nm
  WHERE ({_strat_h}) % n_lang < n_min
)
SELECT lang,
       CAST(max(n_lang) AS BIGINT) AS n_total,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM kept GROUP BY lang
"""

# Metadata counters are deterministic by construction (create + 2 appends
# + compact = snapshot version 3; keep_last=2 retains 2 of 4, expiring 2);
# hardcoding them here makes the oracle assert the commit/retention
# semantics, not just the data invariant.
EXT_ORACLES["table_maintenance"] = """
SELECT n_regionkey,
       CAST(count(*) AS BIGINT) AS n_nations,
       CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
       CAST(3 AS BIGINT) AS current_version,
       CAST(2 AS BIGINT) AS n_snapshots,
       CAST(2 AS BIGINT) AS n_expired
FROM nation GROUP BY n_regionkey
"""

# ---- multimodal audio (sources/multimodal.py WAV path) ------------------
# Recomputes the decoded statistics analytically from the generative
# sample formula s(id, i) = (id*31 + i*37) % 4096 - 2048 over
# n = 200 + id % 50 samples at 8 kHz — the Spark side round-trips the
# same values through real WAV bytes, so any byte-layout bug mismatches.

EXT_ORACLES["multimodal_audio"] = """
WITH ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id < 50),
s AS (
  SELECT media_id,
         200 + media_id % 50 AS n,
         list_transform(range(0, 200 + media_id % 50),
                        i -> (media_id * 31 + i * 37) % 4096 - 2048) AS samples
  FROM ids
)
SELECT media_id,
       CAST(n AS BIGINT) AS n_samples,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(n * 1000000 // 8000 AS BIGINT) AS duration_us,
       CAST(list_sum(samples) AS BIGINT) AS sum_s,
       CAST(list_sum(list_transform(samples, x -> x * x)) AS BIGINT) AS energy,
       CAST(list_min(samples) AS BIGINT) AS min_s,
       CAST(list_max(samples) AS BIGINT) AS max_s
FROM s
"""

# ---- streaming CDC merge sink (streaming/rollup.py) ---------------------
# Batch-count-invariant result: per-user argmax by (ts, event_id).

EXT_ORACLES["stream_cdc_merge"] = """
SELECT user_id, ts AS last_ts, event_id AS last_event_id,
       event_type, value
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC
  ) AS rk
  FROM events
) WHERE rk = 1
"""

# ---- PERMISSIVE corrupt-record ingestion (sources/json_source.py) -------
# The fixture corrupts every 5th serialized nation line (by n_nationkey),
# so the expected counts derive from the same % 5 rule.

EXT_ORACLES["json_corrupt_records"] = """
SELECT CAST(sum(CASE WHEN n_nationkey % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_good,
       CAST(sum(CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_corrupt,
       CAST(sum(CASE WHEN n_nationkey % 5 <> 0 THEN n_nationkey END) AS BIGINT)
         AS good_key_sum
FROM nation
"""

# ---- write-audit-publish lifecycle (operators/maintenance.py) -----------
# Content: base (c_custkey <= 10) ∪ good (11..15); metadata counters are
# deterministic: create=v0, bad stage v1 dropped (version retired, never
# re-minted), good stage v2 published (current=2, 2 live snapshots),
# 1 rejected batch, 1 orphan dir removed.

EXT_ORACLES["wap_pattern"] = """
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(c_custkey) AS BIGINT) AS key_sum,
       CAST(2 AS BIGINT) AS current_version,
       CAST(2 AS BIGINT) AS n_snapshots,
       CAST(1 AS BIGINT) AS n_rejected,
       CAST(1 AS BIGINT) AS n_orphans_removed
FROM customer WHERE c_custkey <= 15
GROUP BY c_nationkey
"""

# ---- curation capstone (operators/scrub.py) -----------------------------
# Same stage order as the Spark plan: repetition gate FIRST, then
# paragraph keep-first among survivors, then language rebalance over the
# surviving corpus.

EXT_ORACLES["curation_pipeline"] = f"""
WITH t AS (SELECT doc_id, lang, {_DOC_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id,
         unnest([toks[i] || ' ' || toks[i + 1]
                 for i in range(1, len(toks))]) AS gram
  FROM t WHERE len(toks) >= 2
),
gc AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
rep AS (
  SELECT doc_id
  FROM (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
               CAST(max(cnt) AS BIGINT) AS top_count
        FROM gc GROUP BY doc_id)
  WHERE CAST(top_count AS DOUBLE) / n_bigrams <= {REPETITION_MAX_FRAC}
),
p AS (
  SELECT doc_id,
         unnest(range(1, CAST(ceil(len(toks) / CAST({PARA_TOKENS} AS DOUBLE))
                              AS INT) + 1)) AS para_idx,
         unnest(list_transform(
           range(1, CAST(ceil(len(toks) / CAST({PARA_TOKENS} AS DOUBLE))
                         AS INT) + 1),
           i -> array_to_string(
                  toks[((i - 1) * {PARA_TOKENS} + 1):(i * {PARA_TOKENS})],
                  ' '))) AS para
  FROM t WHERE len(toks) >= 1 AND doc_id IN (SELECT doc_id FROM rep)
),
ph AS (
  SELECT doc_id, para_idx, {_para_h} AS h,
         row_number() OVER (
           PARTITION BY {_para_h} ORDER BY doc_id, para_idx
         ) AS rk
  FROM p
),
survival AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_paras,
         CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
  FROM ph GROUP BY doc_id
),
survivors AS (
  SELECT d.doc_id, d.lang FROM documents d
  WHERE d.doc_id IN (SELECT doc_id FROM rep)
),
lc AS (SELECT lang, count(*) AS n_lang FROM survivors GROUP BY lang),
nm AS (SELECT min(n_lang) AS n_min FROM lc),
sampled AS (
  SELECT s.doc_id, s.lang
  FROM survivors s JOIN lc USING (lang) CROSS JOIN nm
  WHERE ({duck_md5_int("'curate#' || CAST(doc_id AS VARCHAR)")}) % n_lang < n_min
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_paras) AS BIGINT) AS total_paras,
       CAST(sum(n_kept) AS BIGINT) AS kept_paras,
       CAST(sum(sampled.doc_id) AS BIGINT) AS id_sum
FROM sampled JOIN survival USING (doc_id)
GROUP BY lang
"""

# ---- partition evolution + snapshot history (operators/maintenance.py) --

EXT_ORACLES["partition_evolution"] = """
SELECT CAST(n_nationkey % 4 AS BIGINT) AS nk_bucket,
       CAST(count(*) AS BIGINT) AS n_nations,
       CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
       (SELECT CAST(count(DISTINCT n_regionkey) AS BIGINT) FROM nation)
         AS n_v0_partitions,
       (SELECT CAST(count(DISTINCT n_nationkey % 4) AS BIGINT) FROM nation)
         AS n_v1_partitions,
       'n_regionkey;nk_bucket' AS spec_history
FROM nation GROUP BY 1
"""

EXT_ORACLES["snapshot_refs"] = """
SELECT 'main' AS ref, 'branch' AS ref_type, CAST(3 AS BIGINT) AS version,
       (SELECT count(*) FROM nation WHERE n_regionkey = 1) AS n_rows,
       (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM nation
        WHERE n_regionkey = 1) AS key_sum,
       CAST(3 AS BIGINT) AS n_live_snapshots
UNION ALL
SELECT 'audit', 'branch', 2,
       (SELECT count(*) FROM nation)
         + (SELECT count(*) FROM nation WHERE n_regionkey = 2),
       (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM nation)
         + (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM nation
            WHERE n_regionkey = 2),
       3
UNION ALL
SELECT 'v1-release', 'tag', 1,
       (SELECT count(*) FROM nation),
       (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM nation),
       3
"""

EXT_ORACLES["snapshot_history"] = """
SELECT CAST(0 AS BIGINT) AS version, CAST(-1 AS BIGINT) AS parent,
       'create' AS operation,
       (SELECT count(*) FROM nation WHERE n_nationkey < 10) AS n_rows
UNION ALL
SELECT 1, 0, 'append', (SELECT count(*) FROM nation)
UNION ALL
SELECT 2, 1, 'overwrite',
       (SELECT count(*) FROM nation WHERE n_regionkey = 1)
UNION ALL
SELECT 3, 2, 'compact',
       (SELECT count(*) FROM nation WHERE n_regionkey = 1)
"""

# ---- changelog feed (operators/maintenance.py + catalog.change_feed) ----
# Same diff semantics as the engine: bag EXCEPT ALL in both directions,
# updates appearing as delete+insert pairs.

EXT_ORACLES["changelog_feed"] = """
WITH c AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer),
v0 AS (SELECT * FROM c WHERE c_nationkey < 13),
v1 AS (SELECT c_custkey, c_name, c_nationkey,
              CASE WHEN c_nationkey = 5 THEN c_acctbal * 2
                   ELSE c_acctbal END AS c_acctbal
       FROM c
       WHERE (c_nationkey < 13 AND c_nationkey <> 3) OR c_nationkey = 13),
feed AS (
  SELECT *, 'insert' AS _change_type
  FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v0)
  UNION ALL
  SELECT *, 'delete' AS _change_type
  FROM (SELECT * FROM v0 EXCEPT ALL SELECT * FROM v1)
)
SELECT _change_type, c_nationkey,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(c_custkey) AS BIGINT) AS key_sum
FROM feed GROUP BY 1, 2
"""

# ---- incremental recuration (operators/scrub.py) ------------------------
# Delta = doc_id % 10 == 7, plus 10 planted cross-corpus near-dups
# (near-copies of base doc_id % 10 == 0, doc_id < 100 at +2000007). Same
# stage order as the Spark plan: gate over the delta, LSH-index probe of
# the gated batch against the base corpus (band-collision candidates
# verified by MinHash component agreement >= MINHASH_EST_AGREE), then
# anti-join surviving paragraphs against the base hash set and keep-first
# within the delta.

_ci_agree = " + ".join(
    f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)"
    for i in range(N_MINHASH)
)
_ci_band_values = ", ".join(f"({b})" for b in range(N_BANDS))

EXT_ORACLES["curation_incremental"] = f"""
WITH corpus AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 2000007 AS doc_id, lang,
         substring(text, strpos(text, ' ') + 1) AS text
  FROM documents WHERE doc_id % 10 = 0 AND doc_id < 100
),
t AS (SELECT doc_id, lang, text, {_DOC_TOKS} AS toks FROM corpus),
delta AS (SELECT * FROM t WHERE doc_id % 10 = 7),
base AS (SELECT * FROM t WHERE doc_id % 10 <> 7),
g AS (
  SELECT doc_id,
         unnest([toks[i] || ' ' || toks[i + 1]
                 for i in range(1, len(toks))]) AS gram
  FROM delta WHERE len(toks) >= 2
),
gc AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
gate AS (
  SELECT doc_id
  FROM (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
               CAST(max(cnt) AS BIGINT) AS top_count
        FROM gc GROUP BY doc_id)
  WHERE CAST(top_count AS DOUBLE) / n_bigrams <= {REPETITION_MAX_FRAC}
),
base_xs AS (
  SELECT doc_id,
         list_transform({_duck_shingles}, s -> {duck_md5_int('s')} % {MOD})
           AS xs
  FROM base
),
base_sig AS (SELECT doc_id, {_mh_cols} FROM base_xs),
batch_xs AS (
  SELECT doc_id,
         list_transform({_duck_shingles}, s -> {duck_md5_int('s')} % {MOD})
           AS xs
  FROM delta WHERE doc_id IN (SELECT doc_id FROM gate)
),
batch_sig AS (SELECT doc_id, {_mh_cols} FROM batch_xs),
base_band AS (
  SELECT doc_id, b.band_idx, {_band_case} AS band_hash
  FROM base_sig, (VALUES {_ci_band_values}) b(band_idx)
),
batch_band AS (
  SELECT doc_id, b.band_idx, {_band_case} AS band_hash
  FROM batch_sig, (VALUES {_ci_band_values}) b(band_idx)
),
cand AS (
  SELECT DISTINCT a.doc_id AS batch_doc, b.doc_id AS base_doc
  FROM batch_band a JOIN base_band b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
),
nd AS (
  SELECT DISTINCT c.batch_doc AS doc_id
  FROM cand c
  JOIN batch_sig a ON a.doc_id = c.batch_doc
  JOIN base_sig b ON b.doc_id = c.base_doc
  WHERE ({_ci_agree}) >= {MINHASH_EST_AGREE}
),
base_p AS (
  SELECT DISTINCT {_para_h} AS h
  FROM (
    SELECT unnest(list_transform(
             range(1, CAST(ceil(len(toks) / CAST({PARA_TOKENS} AS DOUBLE))
                           AS INT) + 1),
             i -> array_to_string(
                    toks[((i - 1) * {PARA_TOKENS} + 1):(i * {PARA_TOKENS})],
                    ' '))) AS para
    FROM base WHERE len(toks) >= 1
  )
),
delta_p AS (
  SELECT doc_id,
         unnest(range(1, CAST(ceil(len(toks) / CAST({PARA_TOKENS} AS DOUBLE))
                              AS INT) + 1)) AS para_idx,
         unnest(list_transform(
           range(1, CAST(ceil(len(toks) / CAST({PARA_TOKENS} AS DOUBLE))
                         AS INT) + 1),
           i -> array_to_string(
                  toks[((i - 1) * {PARA_TOKENS} + 1):(i * {PARA_TOKENS})],
                  ' '))) AS para
  FROM delta
  WHERE len(toks) >= 1 AND doc_id IN (SELECT doc_id FROM gate)
    AND doc_id NOT IN (SELECT doc_id FROM nd)
),
fresh AS (
  SELECT doc_id, para_idx, {_para_h} AS h
  FROM delta_p
  WHERE {_para_h} NOT IN (SELECT h FROM base_p)
),
survival AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_fresh,
         CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
  FROM (SELECT doc_id, h,
               row_number() OVER (
                 PARTITION BY h ORDER BY doc_id, para_idx
               ) AS rk
        FROM fresh)
  GROUP BY doc_id
)
SELECT d.lang,
       CAST(sum(CASE WHEN nd.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs,
       CAST(sum(CASE WHEN nd.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS neardup_docs,
       CAST(sum(CASE WHEN nd.doc_id IS NULL
                     THEN coalesce(s.n_fresh, 0) ELSE 0 END) AS BIGINT)
         AS fresh_paras,
       CAST(sum(CASE WHEN nd.doc_id IS NULL
                     THEN coalesce(s.n_kept, 0) ELSE 0 END) AS BIGINT)
         AS kept_paras,
       CAST(sum(CASE WHEN nd.doc_id IS NULL THEN d.doc_id ELSE 0 END)
            AS BIGINT) AS id_sum
FROM delta d JOIN gate USING (doc_id)
LEFT JOIN nd ON nd.doc_id = d.doc_id
LEFT JOIN survival s USING (doc_id)
GROUP BY d.lang
"""

# ---- round-5 additions ---------------------------------------------------

from iceberg_examples_spark.operators.dedup import (  # noqa: E402
    SIMHASH_DEDUP_BITS,
    SIMHASH_DEDUP_HAMMING_MAX,
)
from iceberg_examples_spark.operators.llm_quality import (  # noqa: E402
    VOCAB_SIZE,
)
from iceberg_examples_spark.operators.llm_pipeline import (  # noqa: E402
    N_WORKERS,
)
from iceberg_examples_spark.operators.coverage import (  # noqa: E402
    FIXED_SAMPLE_K,
)

_sh_bit_sums = ",\n       ".join(
    f"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(hh, "
    f"h -> CAST(CASE WHEN h % {2 ** (i + 1)} >= {2 ** i} THEN 1 ELSE -1 END AS BIGINT))), "
    f"(acc, x) -> acc + x) AS bit{i}"
    for i in range(SIMHASH_DEDUP_BITS)
)
_sh_fp_sum = " + ".join(
    f"(CASE WHEN bit{i} >= 0 THEN {2 ** i} ELSE 0 END)"
    for i in range(SIMHASH_DEDUP_BITS)
)

# All-pairs Hamming reference for the banded Spark plan: the banding is
# pigeonhole-complete for hamming <= BANDS-1, so the sets must be equal.
EXT_ORACLES["dedup_simhash"] = f"""
WITH corpus AS ({_near_corpus}),
h AS (SELECT doc_id, {_tok_h} AS hh FROM corpus),
bits AS (SELECT doc_id, {_sh_bit_sums} FROM h),
fp AS (SELECT doc_id, CAST({_sh_fp_sum} AS BIGINT) AS simhash FROM bits),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_DEDUP_HAMMING_MAX}
)
SELECT CAST(hamming AS INT) AS hamming,
       count(*) AS n_pairs,
       CAST(sum(doc_a) AS BIGINT) AS a_sum,
       CAST(sum(doc_b) AS BIGINT) AS b_sum,
       CAST(sum(CASE WHEN doc_b = doc_a + 1000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_planted
FROM pairs GROUP BY 1
"""

EXT_ORACLES["vocab_coverage"] = f"""
WITH tok AS (SELECT lang, unnest({_toks}) AS token FROM documents),
counts AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
vocab AS (SELECT token FROM counts ORDER BY n DESC, token LIMIT {VOCAB_SIZE})
SELECT t.lang,
       count(*) AS total_tokens,
       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS oov_tokens,
       CAST(count(DISTINCT CASE WHEN v.token IS NULL THEN t.token END)
            AS BIGINT) AS oov_types
FROM tok t LEFT JOIN vocab v ON t.token = v.token
GROUP BY t.lang
"""

EXT_ORACLES["balanced_shards"] = f"""
WITH t AS (SELECT doc_id, {_toks} AS toks FROM documents),
q AS (SELECT doc_id, doc_id // {SHARD_DOCS} AS shard_id,
             CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
slotted AS (
  SELECT doc_id, n_tokens,
         (row_number() OVER (PARTITION BY shard_id
             ORDER BY n_tokens DESC, doc_id ASC) - 1) % {2 * N_WORKERS}
           AS slot
  FROM q
)
SELECT CAST(CASE WHEN slot < {N_WORKERS} THEN slot
            ELSE {2 * N_WORKERS - 1} - slot END AS INT) AS worker,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM slotted GROUP BY 1
"""

EXT_ORACLES["fixed_size_sample"] = f"""
SELECT doc_id, lang,
       CAST({duck_md5_int('CAST(doc_id AS VARCHAR)')} AS BIGINT) AS rank_hash
FROM documents
ORDER BY rank_hash, doc_id
LIMIT {FIXED_SAMPLE_K}
"""

from iceberg_examples_spark.operators.dedup import (  # noqa: E402
    MINHASH_EST_AGREE,
)

_steady_agree = " + ".join(
    f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
    for i in range(N_MINHASH)
)

EXT_ORACLES["curation_steady_state"] = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 3000001 AS doc_id,
         substring(text, strpos(text, ' ') + 1) AS text
  FROM documents WHERE doc_id % 4 = 2 AND doc_id < 80
),
tok AS (SELECT doc_id, {DUCK_TOKS.format(col='text')} AS toks FROM corpus),
sh AS (SELECT doc_id, {_duck_shingles} AS shingles FROM tok),
xsed AS (SELECT doc_id,
         list_transform(shingles, s -> {duck_md5_int('s')} % {MOD}) AS xs FROM sh),
sig AS (SELECT doc_id, {_mh_cols} FROM xsed),
band AS (
  SELECT doc_id, b.band_idx, {_band_case} AS band_hash
  FROM sig, (VALUES {', '.join(f'({b})' for b in range(N_BANDS))}) b(band_idx)
),
ep AS (SELECT doc_id, CASE WHEN doc_id >= 3000000 THEN 2
                           WHEN doc_id % 4 = 2 THEN 1
                           WHEN doc_id % 4 = 3 THEN 2
                           ELSE 0 END AS epoch FROM corpus),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM band a JOIN band b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id <> b.doc_id
),
links AS (
  SELECT c.da, c.db FROM cand c
  JOIN sig sa ON sa.doc_id = c.da
  JOIN sig sb ON sb.doc_id = c.db
  WHERE {_steady_agree} >= {MINHASH_EST_AGREE}
),
nd1 AS (
  SELECT DISTINCT l.da AS doc_id FROM links l
  JOIN ep ea ON ea.doc_id = l.da AND ea.epoch = 1
  JOIN ep eb ON eb.doc_id = l.db AND eb.epoch = 0
),
acc1 AS (SELECT doc_id FROM ep WHERE epoch = 1
         AND doc_id NOT IN (SELECT doc_id FROM nd1)),
idx1 AS (SELECT doc_id FROM ep WHERE epoch = 0
         UNION ALL SELECT doc_id FROM acc1),
nd2 AS (
  SELECT DISTINCT l.da AS doc_id FROM links l
  JOIN ep ea ON ea.doc_id = l.da AND ea.epoch = 2
  JOIN idx1 i ON i.doc_id = l.db
),
acc2 AS (SELECT doc_id FROM ep WHERE epoch = 2
         AND doc_id NOT IN (SELECT doc_id FROM nd2))
SELECT CAST(1 AS INT) AS epoch,
       (SELECT count(*) FROM ep WHERE epoch = 1) AS n_batch,
       (SELECT count(*) FROM nd1) AS n_neardup,
       (SELECT count(*) FROM acc1) AS n_accepted,
       (SELECT CAST(sum(doc_id) AS BIGINT) FROM acc1) AS id_sum
UNION ALL
SELECT CAST(2 AS INT),
       (SELECT count(*) FROM ep WHERE epoch = 2),
       (SELECT count(*) FROM nd2),
       (SELECT count(*) FROM acc2),
       (SELECT CAST(sum(doc_id) AS BIGINT) FROM acc2)
"""

from iceberg_examples_spark.operators.graph import (  # noqa: E402
    OUT_DEGREE,
    PR_ITERATIONS,
    PR_SCALE,
    PR_TOPK,
)

_pr_base = int(0.15 * PR_SCALE)
_pr_edge_h = duck_md5_int(
    "'link#' || CAST(src AS VARCHAR) || '#' || CAST(k AS VARCHAR)"
)
_pr_iters = "".join(
    f""",
recv{i} AS (
  SELECT e.dst, sum(r.rank // {OUT_DEGREE}) AS in_mass
  FROM edges e JOIN ranks{i - 1} r ON e.src = r.doc_id
  GROUP BY e.dst
),
ranks{i} AS (
  SELECT d.doc_id,
         {_pr_base} + (85 * coalesce(v.in_mass, 0)) // 100 AS rank
  FROM nodes d LEFT JOIN recv{i} v ON d.doc_id = v.dst
)"""
    for i in range(1, PR_ITERATIONS + 1)
)

EXT_ORACLES["pagerank_links"] = f"""
WITH nodes AS (SELECT doc_id FROM documents),
n AS (SELECT max(doc_id) + 1 AS n_ids FROM nodes),
edges AS (
  SELECT src, ({_pr_edge_h}) % (SELECT n_ids FROM n) AS dst
  FROM (SELECT doc_id AS src FROM nodes), range(1, {OUT_DEGREE + 1}) t(k)
),
ranks0 AS (SELECT doc_id, CAST({PR_SCALE} AS BIGINT) AS rank FROM nodes)
{_pr_iters}
SELECT doc_id, CAST(rank AS BIGINT) AS rank
FROM ranks{PR_ITERATIONS}
ORDER BY rank DESC, doc_id ASC
LIMIT {PR_TOPK}
"""

_dq_batch = """
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN o_custkey + 1000000000
              ELSE o_custkey END AS o_custkey,
         CASE WHEN o_orderkey % 89 = 0 THEN -o_totalprice
              ELSE o_totalprice END AS o_totalprice,
         CASE WHEN o_orderkey % 83 = 0 THEN CAST(NULL AS VARCHAR)
              ELSE o_orderpriority END AS o_orderpriority
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 101 = 0
"""

EXT_ORACLES["data_quality_audit"] = f"""
WITH batch AS ({_dq_batch})
SELECT 'fk_orphan' AS check, count(*) AS n_violations,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM batch b WHERE NOT EXISTS
  (SELECT 1 FROM customer c WHERE c.c_custkey = b.o_custkey)
UNION ALL
SELECT 'negative_price', count(*), CAST(sum(o_orderkey) AS BIGINT)
FROM batch WHERE o_totalprice < 0
UNION ALL
SELECT 'null_priority', count(*), CAST(sum(o_orderkey) AS BIGINT)
FROM batch WHERE o_orderpriority IS NULL
UNION ALL
SELECT 'dup_key', count(*), CAST(sum(o_orderkey) AS BIGINT)
FROM (SELECT o_orderkey FROM batch GROUP BY o_orderkey HAVING count(*) > 1)
"""

# ---- round-6 additions --------------------------------------------------

from iceberg_examples_spark.operators.llm_pipeline import (  # noqa: E402
    DOMAIN_CAP,
    EPOCH_SEED,
    LEN_BUCKET_MAX_P,
)
from iceberg_examples_spark.operators.similarity import (  # noqa: E402
    EMB_DIM,
    EMB_SCALE,
)

_epoch_h = duck_md5_int(f"'{EPOCH_SEED}:' || CAST(doc_id AS VARCHAR)")
EXT_ORACLES["epoch_shuffle"] = f"""
SELECT row_number() OVER (ORDER BY rank_hash, doc_id) AS pos,
       doc_id, rank_hash
FROM (SELECT doc_id, {_epoch_h} AS rank_hash FROM documents)
"""

_cap_h = duck_md5_int("'cap:' || CAST(doc_id AS VARCHAR)")
EXT_ORACLES["domain_cap_sample"] = f"""
SELECT doc_id, source, pick FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source ORDER BY pick_hash, doc_id
         ) AS pick
  FROM (SELECT doc_id, source, {_cap_h} AS pick_hash FROM documents)
) WHERE pick <= {DOMAIN_CAP}
"""

_lb_n = f"len({_DOC_TOKS})"
_lb_bucket = (
    f"len(list_filter(range(0, {LEN_BUCKET_MAX_P} + 1), "
    f"p -> (CAST(1 AS BIGINT) << p) <= n_tokens)) - 1"
)
EXT_ORACLES["length_buckets"] = f"""
WITH t AS (SELECT CAST({_lb_n} AS BIGINT) AS n_tokens FROM documents),
b AS (SELECT CAST({_lb_bucket} AS BIGINT) AS bucket, n_tokens FROM t),
g AS (
  SELECT bucket,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens
  FROM b GROUP BY bucket
)
SELECT bucket,
       CAST(CAST(1 AS BIGINT) << CAST(bucket AS INT) AS BIGINT) AS lo,
       (CAST(1 AS BIGINT) << (CAST(bucket AS INT) + 1)) - 1 AS hi,
       n_docs, total_tokens,
       CAST(sum(n_docs) OVER (ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_docs
FROM g
"""

EXT_ORACLES["embedding_stats"] = f"""
WITH x AS (
  SELECT unnest(range(1, {EMB_DIM} + 1)) AS ord, embedding FROM embeddings
),
u AS (
  SELECT ord - 1 AS dim,
         CAST(round(CAST(embedding[ord] AS DOUBLE) * {EMB_SCALE})
              AS BIGINT) AS xs,
         CAST(round(CAST(embedding[ord] AS DOUBLE)
                    * CAST(embedding[ord] AS DOUBLE) * {EMB_SCALE})
              AS BIGINT) AS xq
  FROM x
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
SELECT CAST(dim AS BIGINT) AS dim, n,
       CAST(sum(xs) AS BIGINT) AS sum_s,
       CAST(sum(xq) AS BIGINT) AS sumsq_s,
       CAST(CAST(sum(xs) AS BIGINT) AS DOUBLE) / {EMB_SCALE}.0
         / CAST(n AS DOUBLE) AS mean
FROM u, tot GROUP BY dim, n
"""

EXT_ORACLES["intra_doc_dedup"] = f"""
WITH t AS (SELECT doc_id, {_DOC_TOKS} AS toks FROM documents
           WHERE len({_DOC_TOKS}) >= 1),
p AS (
  SELECT doc_id,
         unnest(range(1, CAST(ceil(len(toks) / CAST({PARA_TOKENS} AS DOUBLE))
                              AS INT) + 1)) AS para_idx,
         unnest(list_transform(
           range(1, CAST(ceil(len(toks) / CAST({PARA_TOKENS} AS DOUBLE))
                         AS INT) + 1),
           i -> array_to_string(
                  toks[((i - 1) * {PARA_TOKENS} + 1):(i * {PARA_TOKENS})],
                  ' '))) AS para
  FROM t
),
h AS (
  SELECT doc_id, para_idx, {_para_h} AS h,
         row_number() OVER (
           PARTITION BY doc_id, {_para_h} ORDER BY para_idx
         ) AS occ
  FROM p
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_paras,
       CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN occ > 1 THEN h % {PARA_SUM_MOD} ELSE 0 END)
            AS BIGINT) AS dup_h_sum
FROM h
GROUP BY doc_id
"""

EXT_ORACLES["hll_distinct"] = """
SELECT event_type, n_exact, TRUE AS est_in_bound FROM (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY event_type
  UNION ALL
  SELECT 'ALL' AS event_type, CAST(count(DISTINCT user_id) AS BIGINT)
  FROM events
)
"""

EXT_ORACLES["observed_metrics"] = """
SELECT CAST(count(*) AS BIGINT) AS n_seen,
       CAST(sum(CASE WHEN l_quantity < 30 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(sum(CASE WHEN l_quantity < 30 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_written,
       CAST(sum(CASE WHEN l_quantity < 30
                THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS kept_cents
FROM lineitem
"""

EXT_ORACLES["sql_pipe_query"] = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem
WHERE l_shipdate >= DATE '1995-01-01'
GROUP BY l_returnflag, l_linestatus
HAVING count(*) > 0
ORDER BY l_returnflag, l_linestatus
"""

from iceberg_examples_spark.operators.events_ops import FUNNEL  # noqa: E402
from iceberg_examples_spark.operators.graph import (  # noqa: E402
    OUT_DEGREE,
)
from iceberg_examples_spark.streaming.rollup import (  # noqa: E402
    LATE_MOD,
    LATE_PICK,
)

EXT_ORACLES["funnel_stages"] = f"""
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = '{FUNNEL[0]}' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, s1.t1, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = '{FUNNEL[1]}' AND e.ts > s1.t1
  GROUP BY e.user_id, s1.t1
),
s3 AS (
  SELECT e.user_id, s2.t2, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = '{FUNNEL[2]}' AND e.ts > s2.t2
  GROUP BY e.user_id, s2.t2
)
SELECT CAST(1 AS BIGINT) AS stage, '{FUNNEL[0]}' AS event_type,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(0 AS BIGINT) AS sum_lag_us
FROM s1
UNION ALL
SELECT CAST(2 AS BIGINT), '{FUNNEL[1]}', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(epoch_us(t2) - epoch_us(t1)), 0) AS BIGINT)
FROM s2
UNION ALL
SELECT CAST(3 AS BIGINT), '{FUNNEL[2]}', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(epoch_us(t3) - epoch_us(t2)), 0) AS BIGINT)
FROM s3
"""

EXT_ORACLES["cohort_retention"] = """
WITH f AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id)
SELECT CAST(date_trunc('week', f.t0) AS DATE) AS cohort_week,
       CAST(datediff('day', CAST(date_trunc('week', f.t0) AS DATE),
                     CAST(date_trunc('week', e.ts) AS DATE)) // 7
            AS BIGINT) AS week_offset,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
FROM events e JOIN f ON e.user_id = f.user_id
GROUP BY 1, 2
"""

_tri_h = duck_md5_int(
    "'link#' || CAST(src AS VARCHAR) || '#' || CAST(k AS VARCHAR)"
)
EXT_ORACLES["triangle_count"] = f"""
WITH n AS (SELECT max(doc_id) + 1 AS n_ids FROM documents),
raw AS (
  SELECT doc_id AS src, unnest(range(1, {OUT_DEGREE} + 1)) AS k
  FROM documents
),
e AS (SELECT src, ({_tri_h}) % n.n_ids AS dst FROM raw, n),
und AS (
  SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
  FROM e WHERE src <> dst
),
deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT lo AS v FROM und UNION ALL SELECT hi AS v FROM und
  ) GROUP BY v
),
ori AS (
  SELECT CASE WHEN dl.d < dh.d OR (dl.d = dh.d AND u.lo < u.hi)
              THEN u.lo ELSE u.hi END AS s,
         CASE WHEN dl.d < dh.d OR (dl.d = dh.d AND u.lo < u.hi)
              THEN u.hi ELSE u.lo END AS t
  FROM und u
  JOIN deg dl ON dl.v = u.lo
  JOIN deg dh ON dh.v = u.hi
),
wedges AS (
  SELECT e1.s AS a, e1.t AS b, e2.t AS c
  FROM ori e1 JOIN ori e2 ON e1.t = e2.s
),
tri AS (
  SELECT w.a FROM wedges w
  WHERE EXISTS (SELECT 1 FROM ori e3 WHERE e3.s = w.a AND e3.t = w.c)
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
       (SELECT CAST(count(*) AS BIGINT) FROM wedges) AS n_wedges,
       (SELECT CAST(count(*) AS BIGINT) FROM tri) AS n_triangles
"""

_late_is_max = "ts = (SELECT max(ts) FROM events)"
_late_is_late = (
    f"event_id % {LATE_MOD} = {LATE_PICK} AND NOT ({_late_is_max})"
)
EXT_ORACLES["stream_late_data"] = f"""
WITH ontime AS (
  SELECT * FROM events
  WHERE NOT ({_late_is_late}) AND NOT ({_late_is_max})
),
hb AS (SELECT * FROM events WHERE {_late_is_max}),
late AS (SELECT * FROM events WHERE {_late_is_late}),
wm1 AS (SELECT max(ts) - INTERVAL 3 DAY AS w FROM ontime),
wmf AS (SELECT max(ts) - INTERVAL 3 DAY AS w FROM events),
kept AS (
  SELECT ts, value FROM ontime
  UNION ALL
  SELECT ts, value FROM hb
  UNION ALL
  SELECT late.ts, late.value FROM late, wm1
  WHERE date_trunc('day', late.ts) + INTERVAL 1 DAY > wm1.w
)
SELECT CAST(date_trunc('day', kept.ts) AS TIMESTAMP) AS day_start,
       CAST(count(*) AS BIGINT) AS n_events,
       {money_sum_sql('kept.value', scale=100)} AS sum_value
FROM kept, wmf
WHERE date_trunc('day', kept.ts) + INTERVAL 1 DAY <= wmf.w
GROUP BY 1
"""

from iceberg_examples_spark.operators.graph import (  # noqa: E402
    BFS_MAX_LEVEL,
    BFS_SOURCE,
)

EXT_ORACLES["bfs_levels"] = f"""
WITH RECURSIVE n AS (SELECT max(doc_id) + 1 AS n_ids FROM documents),
raw AS (
  SELECT doc_id AS src, unnest(range(1, {OUT_DEGREE} + 1)) AS k
  FROM documents
),
e AS (SELECT src, ({_tri_h}) % n.n_ids AS dst FROM raw, n),
walk(doc, lvl) AS (
  SELECT CAST({BFS_SOURCE} AS BIGINT), CAST(0 AS BIGINT)
  UNION
  SELECT e.dst, walk.lvl + 1
  FROM walk JOIN e ON e.src = walk.doc
  WHERE walk.lvl < {BFS_MAX_LEVEL}
)
SELECT CAST(lvl AS BIGINT) AS level,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(doc) AS BIGINT) AS id_sum
FROM (SELECT doc, min(lvl) AS lvl FROM walk GROUP BY doc)
GROUP BY lvl
"""

EXT_ORACLES["fuzzy_match"] = """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40))
            AS BIGINT) AS edit_dist
FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
"""

EXT_ORACLES["null_safe_join"] = """
WITH fact AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL
              ELSE o_orderpriority END AS prio
  FROM orders
),
dim AS (
  SELECT d_prio, coalesce(d_prio, 'UNKNOWN') AS prio_label FROM (
    SELECT DISTINCT o_orderpriority AS d_prio FROM orders
    UNION ALL SELECT CAST(NULL AS VARCHAR)
  )
)
SELECT dim.prio_label,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(fact.o_orderkey) AS BIGINT) AS key_sum
FROM fact JOIN dim ON fact.prio IS NOT DISTINCT FROM dim.d_prio
GROUP BY dim.prio_label
"""

EXT_ORACLES["union_schema_drift"] = """
SELECT o_orderkey,
       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
       CAST(NULL AS VARCHAR) AS priority,
       CAST(NULL AS VARCHAR) AS status
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT o_orderkey, CAST(NULL AS BIGINT), o_orderpriority, o_orderstatus
FROM orders WHERE o_orderkey % 3 = 1
"""

from iceberg_examples_spark.operators.partitioning import (  # noqa: E402
    DPP_QUARTER,
)

EXT_ORACLES["dynamic_partition_prune"] = f"""
WITH fact AS (
  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
         l_extendedprice, l_discount
  FROM lineitem
),
dim AS (
  SELECT ship_month,
         CAST(substr(ship_month, 1, 4) ||
              'Q' ||
              CAST(CAST(ceil(CAST(substr(ship_month, 6, 2) AS INT) / 3.0)
                        AS INT) AS VARCHAR) AS VARCHAR) AS q
  FROM (SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS ship_month
        FROM lineitem)
)
SELECT fact.ship_month,
       CAST(count(*) AS BIGINT) AS n_rows,
       {money_sum_sql('l_extendedprice * (1 - l_discount)', scale=10000)}
         AS revenue
FROM fact JOIN dim ON fact.ship_month = dim.ship_month
WHERE dim.q = '{DPP_QUARTER}'
GROUP BY fact.ship_month
"""

EXT_ORACLES["embedding_norms_arrow"] = f"""
SELECT vec_id,
       CAST(list_aggregate(
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                           * {EMB_SCALE}) AS BIGINT)),
         'sum') AS BIGINT) AS sumsq_s
FROM embeddings
"""

from iceberg_examples_spark.operators.partitioning import (  # noqa: E402
    BACKFILL_MONTH,
)

EXT_ORACLES["dynamic_partition_overwrite"] = f"""
WITH keyed AS (
  SELECT l_orderkey, l_extendedprice,
         CASE WHEN strftime(l_shipdate, '%Y-%m') = '{BACKFILL_MONTH}'
              THEN round(l_discount + 0.10, 2) ELSE l_discount
         END AS l_discount,
         strftime(l_shipdate, '%Y-%m') AS ship_month
  FROM lineitem
)
SELECT ship_month,
       CAST(count(*) AS BIGINT) AS n_rows,
       {money_sum_sql('l_discount', scale=100)} AS sum_discount,
       {money_sum_sql('l_extendedprice * (1 - l_discount)', scale=10000)}
         AS revenue
FROM keyed
WHERE ship_month IN ('1996-02', '{BACKFILL_MONTH}', '1996-04')
GROUP BY ship_month
"""

EXT_ORACLES["merge_schema_read"] = """
WITH merged AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
         CAST(NULL AS VARCHAR) AS priority
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT),
         o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT priority IS NULL AS is_old_gen,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(price_cents) AS BIGINT) AS total_cents,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM merged
GROUP BY 1
"""

EXT_ORACLES["stream_fanout"] = """
WITH latest AS (
  SELECT user_id, event_id,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rk
  FROM events
),
fp AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(event_id) AS BIGINT) AS last_id_sum
  FROM latest WHERE rk = 1
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents,
       fp.n_users, fp.last_id_sum
FROM events, fp
GROUP BY event_type, fp.n_users, fp.last_id_sum
"""

from iceberg_examples_spark.operators.llm_quality import BPE_TOPN  # noqa: E402

EXT_ORACLES["bpe_merge_step"] = f"""
WITH words AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n_w FROM (
    SELECT unnest({_DOC_TOKS}) AS w FROM documents
  ) GROUP BY w
),
pairs1 AS (
  SELECT p, CAST(sum(n_w) AS BIGINT) AS cnt FROM (
    SELECT n_w,
           unnest(list_transform(range(1, length(w)),
                                 i -> substr(w, CAST(i AS INT), 2))) AS p
    FROM words WHERE length(w) >= 2
  ) GROUP BY p
),
top AS (
  SELECT p AS merge_pair, cnt AS merge_cnt
  FROM pairs1 ORDER BY cnt DESC, p ASC LIMIT 1
),
merged AS (
  SELECT n_w, replace(w, merge_pair, '_') AS w2, merge_pair
  FROM words, top
),
pairs2 AS (
  SELECT merge_pair, pair, CAST(sum(n_w) AS BIGINT) AS cnt FROM (
    SELECT n_w, merge_pair,
           replace(unnest(list_transform(range(1, length(w2)),
                          i -> substr(w2, CAST(i AS INT), 2))),
                   '_', merge_pair) AS pair
    FROM merged WHERE length(w2) >= 2
  ) GROUP BY merge_pair, pair
),
ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair ASC) AS BIGINT)
           AS rank,
         pair, cnt, merge_pair
  FROM pairs2
)
SELECT CAST(0 AS BIGINT) AS rank, merge_pair AS pair,
       merge_cnt AS cnt, merge_pair
FROM top
UNION ALL
SELECT rank, pair, cnt, merge_pair FROM ranked WHERE rank <= {BPE_TOPN}
"""

from iceberg_examples_spark.operators.coverage import K_ANON  # noqa: E402

EXT_ORACLES["k_anonymity"] = f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(count(*) AS BIGINT) AS class_size
  FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT class_size >= {K_ANON} AS is_anonymous,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(class_size) AS BIGINT) AS n_rows,
       CAST(min(class_size) AS BIGINT) AS min_class,
       CAST(max(class_size) AS BIGINT) AS max_class
FROM classes
GROUP BY 1
"""

EXT_ORACLES["stream_incremental_ingest"] = """
SELECT CAST(1 + (event_id % 2) AS BIGINT) AS run, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(event_id) AS BIGINT) AS id_sum
FROM events
GROUP BY 1, 2
"""

from iceberg_examples_spark.operators.extended_relational import (  # noqa: E402
    MAD_K,
)

EXT_ORACLES["mad_outliers"] = f"""
WITH med AS (
  SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med
  FROM orders GROUP BY o_orderpriority
),
mad AS (
  SELECT o.o_orderpriority,
         quantile_cont(abs(o.o_totalprice - med.med), 0.5) AS mad,
         any_value(med.med) AS med
  FROM orders o JOIN med ON o.o_orderpriority = med.o_orderpriority
  GROUP BY o.o_orderpriority
)
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       any_value(mad.med) AS med,
       any_value(mad.mad) AS mad,
       CAST(sum(CASE WHEN abs(o.o_totalprice - mad.med)
                          > {MAD_K} * mad.mad
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM orders o JOIN mad ON o.o_orderpriority = mad.o_orderpriority
GROUP BY o.o_orderpriority
"""

EXT_ORACLES["or_join_union"] = """
SELECT s_suppkey,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(l_orderkey) AS BIGINT) AS key_sum
FROM (
  SELECT DISTINCT l.l_orderkey, l.l_linenumber, s.s_suppkey
  FROM lineitem l JOIN supplier s
    ON l.l_suppkey = s.s_suppkey OR (l.l_orderkey % 100) = s.s_suppkey
)
GROUP BY s_suppkey
"""

from iceberg_examples_spark.operators.llm_pipeline import (  # noqa: E402
    MEDIA_MAX_BYTES,
    MEDIA_MIN_BYTES,
    QUALITY_MIN,
)

EXT_ORACLES["multimodal_prep_pipeline"] = f"""
WITH t AS (SELECT doc_id, lang, text, {_toks} AS toks FROM documents),
txt AS (
  SELECT doc_id, lang, ({_quality}) >= {QUALITY_MIN} AS q_ok FROM t
),
eb AS (
  SELECT vec_id AS doc_id, CAST({_bucket} AS INT) AS bucket
  FROM embeddings
),
emb AS (
  SELECT doc_id,
         doc_id = min(doc_id) OVER (PARTITION BY bucket) AS e_ok
  FROM eb
),
md AS (
  SELECT doc_id, md5(text) AS digest,
         CAST(strlen(text) AS BIGINT) AS n_bytes
  FROM documents
),
media AS (
  SELECT doc_id,
         doc_id = min(doc_id) OVER (PARTITION BY digest) AS m_uniq,
         n_bytes BETWEEN {MEDIA_MIN_BYTES} AND {MEDIA_MAX_BYTES}
           AS m_bytes_ok
  FROM md
),
j AS (
  SELECT txt.lang, txt.doc_id, q_ok, e_ok, m_uniq, m_bytes_ok
  FROM txt JOIN emb ON txt.doc_id = emb.doc_id
           JOIN media ON txt.doc_id = media.doc_id
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN q_ok THEN 0 ELSE 1 END) AS BIGINT)
         AS n_quality_fail,
       CAST(sum(CASE WHEN e_ok THEN 0 ELSE 1 END) AS BIGINT)
         AS n_embed_dup,
       CAST(sum(CASE WHEN m_uniq AND m_bytes_ok THEN 0 ELSE 1 END)
            AS BIGINT) AS n_media_fail,
       CAST(sum(CASE WHEN q_ok AND e_ok AND m_uniq AND m_bytes_ok
                THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
       CAST(sum(CASE WHEN q_ok AND e_ok AND m_uniq AND m_bytes_ok
                THEN doc_id ELSE 0 END) AS BIGINT) AS id_sum_final
FROM j
GROUP BY lang
"""

from iceberg_examples_spark.operators.extended_relational import (  # noqa: E402
    SKY_MOD,
)

EXT_ORACLES["skyline_pareto"] = f"""
WITH base AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderdate AS odate
  FROM orders WHERE o_orderkey % {SKY_MOD} = 0
)
SELECT b.o_orderkey, b.cents, b.odate
FROM base b
WHERE NOT EXISTS (
  SELECT 1 FROM base a
  WHERE a.cents <= b.cents AND a.odate >= b.odate
    AND (a.cents < b.cents OR a.odate > b.odate)
)
"""

from iceberg_examples_spark.operators.events_ops import (  # noqa: E402
    TRAJ_BINS,
    TRAJ_SCALE,
)

assert TRAJ_BINS == 16 and TRAJ_SCALE == 100  # the generated column set

EXT_ORACLES["trajectory_similarity"] = """
WITH bounds AS (
  SELECT epoch_us(min(ts)) AS lo_us,
         epoch_us(max(ts)) - epoch_us(min(ts)) + 1 AS span_us
  FROM events
),
raw AS (
  SELECT user_id,
         CAST((epoch_us(ts) - lo_us) * 16 // span_us AS INT) AS bin,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events, bounds
),
prof AS (
  SELECT user_id,
         CAST(sum(CASE WHEN bin = 0 THEN v ELSE 0 END) AS BIGINT) AS s0,
         CAST(sum(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN bin = 1 THEN v ELSE 0 END) AS BIGINT) AS s1,
         CAST(sum(CASE WHEN bin = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN bin = 2 THEN v ELSE 0 END) AS BIGINT) AS s2,
         CAST(sum(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN bin = 3 THEN v ELSE 0 END) AS BIGINT) AS s3,
         CAST(sum(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(sum(CASE WHEN bin = 4 THEN v ELSE 0 END) AS BIGINT) AS s4,
         CAST(sum(CASE WHEN bin = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
         CAST(sum(CASE WHEN bin = 5 THEN v ELSE 0 END) AS BIGINT) AS s5,
         CAST(sum(CASE WHEN bin = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n5,
         CAST(sum(CASE WHEN bin = 6 THEN v ELSE 0 END) AS BIGINT) AS s6,
         CAST(sum(CASE WHEN bin = 6 THEN 1 ELSE 0 END) AS BIGINT) AS n6,
         CAST(sum(CASE WHEN bin = 7 THEN v ELSE 0 END) AS BIGINT) AS s7,
         CAST(sum(CASE WHEN bin = 7 THEN 1 ELSE 0 END) AS BIGINT) AS n7,
         CAST(sum(CASE WHEN bin = 8 THEN v ELSE 0 END) AS BIGINT) AS s8,
         CAST(sum(CASE WHEN bin = 8 THEN 1 ELSE 0 END) AS BIGINT) AS n8,
         CAST(sum(CASE WHEN bin = 9 THEN v ELSE 0 END) AS BIGINT) AS s9,
         CAST(sum(CASE WHEN bin = 9 THEN 1 ELSE 0 END) AS BIGINT) AS n9,
         CAST(sum(CASE WHEN bin = 10 THEN v ELSE 0 END) AS BIGINT) AS s10,
         CAST(sum(CASE WHEN bin = 10 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         CAST(sum(CASE WHEN bin = 11 THEN v ELSE 0 END) AS BIGINT) AS s11,
         CAST(sum(CASE WHEN bin = 11 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         CAST(sum(CASE WHEN bin = 12 THEN v ELSE 0 END) AS BIGINT) AS s12,
         CAST(sum(CASE WHEN bin = 12 THEN 1 ELSE 0 END) AS BIGINT) AS n12,
         CAST(sum(CASE WHEN bin = 13 THEN v ELSE 0 END) AS BIGINT) AS s13,
         CAST(sum(CASE WHEN bin = 13 THEN 1 ELSE 0 END) AS BIGINT) AS n13,
         CAST(sum(CASE WHEN bin = 14 THEN v ELSE 0 END) AS BIGINT) AS s14,
         CAST(sum(CASE WHEN bin = 14 THEN 1 ELSE 0 END) AS BIGINT) AS n14,
         CAST(sum(CASE WHEN bin = 15 THEN v ELSE 0 END) AS BIGINT) AS s15,
         CAST(sum(CASE WHEN bin = 15 THEN 1 ELSE 0 END) AS BIGINT) AS n15
  FROM raw GROUP BY user_id
)
SELECT a.user_id AS user_a, b.user_id AS user_b,
       CAST(((CASE WHEN a.n0 = 0 THEN 0 ELSE a.s0 * 1000 // a.n0 END) - (CASE WHEN b.n0 = 0 THEN 0 ELSE b.s0 * 1000 // b.n0 END)) * ((CASE WHEN a.n0 = 0 THEN 0 ELSE a.s0 * 1000 // a.n0 END) - (CASE WHEN b.n0 = 0 THEN 0 ELSE b.s0 * 1000 // b.n0 END)) +
         ((CASE WHEN a.n1 = 0 THEN 0 ELSE a.s1 * 1000 // a.n1 END) - (CASE WHEN b.n1 = 0 THEN 0 ELSE b.s1 * 1000 // b.n1 END)) * ((CASE WHEN a.n1 = 0 THEN 0 ELSE a.s1 * 1000 // a.n1 END) - (CASE WHEN b.n1 = 0 THEN 0 ELSE b.s1 * 1000 // b.n1 END)) +
         ((CASE WHEN a.n2 = 0 THEN 0 ELSE a.s2 * 1000 // a.n2 END) - (CASE WHEN b.n2 = 0 THEN 0 ELSE b.s2 * 1000 // b.n2 END)) * ((CASE WHEN a.n2 = 0 THEN 0 ELSE a.s2 * 1000 // a.n2 END) - (CASE WHEN b.n2 = 0 THEN 0 ELSE b.s2 * 1000 // b.n2 END)) +
         ((CASE WHEN a.n3 = 0 THEN 0 ELSE a.s3 * 1000 // a.n3 END) - (CASE WHEN b.n3 = 0 THEN 0 ELSE b.s3 * 1000 // b.n3 END)) * ((CASE WHEN a.n3 = 0 THEN 0 ELSE a.s3 * 1000 // a.n3 END) - (CASE WHEN b.n3 = 0 THEN 0 ELSE b.s3 * 1000 // b.n3 END)) +
         ((CASE WHEN a.n4 = 0 THEN 0 ELSE a.s4 * 1000 // a.n4 END) - (CASE WHEN b.n4 = 0 THEN 0 ELSE b.s4 * 1000 // b.n4 END)) * ((CASE WHEN a.n4 = 0 THEN 0 ELSE a.s4 * 1000 // a.n4 END) - (CASE WHEN b.n4 = 0 THEN 0 ELSE b.s4 * 1000 // b.n4 END)) +
         ((CASE WHEN a.n5 = 0 THEN 0 ELSE a.s5 * 1000 // a.n5 END) - (CASE WHEN b.n5 = 0 THEN 0 ELSE b.s5 * 1000 // b.n5 END)) * ((CASE WHEN a.n5 = 0 THEN 0 ELSE a.s5 * 1000 // a.n5 END) - (CASE WHEN b.n5 = 0 THEN 0 ELSE b.s5 * 1000 // b.n5 END)) +
         ((CASE WHEN a.n6 = 0 THEN 0 ELSE a.s6 * 1000 // a.n6 END) - (CASE WHEN b.n6 = 0 THEN 0 ELSE b.s6 * 1000 // b.n6 END)) * ((CASE WHEN a.n6 = 0 THEN 0 ELSE a.s6 * 1000 // a.n6 END) - (CASE WHEN b.n6 = 0 THEN 0 ELSE b.s6 * 1000 // b.n6 END)) +
         ((CASE WHEN a.n7 = 0 THEN 0 ELSE a.s7 * 1000 // a.n7 END) - (CASE WHEN b.n7 = 0 THEN 0 ELSE b.s7 * 1000 // b.n7 END)) * ((CASE WHEN a.n7 = 0 THEN 0 ELSE a.s7 * 1000 // a.n7 END) - (CASE WHEN b.n7 = 0 THEN 0 ELSE b.s7 * 1000 // b.n7 END)) +
         ((CASE WHEN a.n8 = 0 THEN 0 ELSE a.s8 * 1000 // a.n8 END) - (CASE WHEN b.n8 = 0 THEN 0 ELSE b.s8 * 1000 // b.n8 END)) * ((CASE WHEN a.n8 = 0 THEN 0 ELSE a.s8 * 1000 // a.n8 END) - (CASE WHEN b.n8 = 0 THEN 0 ELSE b.s8 * 1000 // b.n8 END)) +
         ((CASE WHEN a.n9 = 0 THEN 0 ELSE a.s9 * 1000 // a.n9 END) - (CASE WHEN b.n9 = 0 THEN 0 ELSE b.s9 * 1000 // b.n9 END)) * ((CASE WHEN a.n9 = 0 THEN 0 ELSE a.s9 * 1000 // a.n9 END) - (CASE WHEN b.n9 = 0 THEN 0 ELSE b.s9 * 1000 // b.n9 END)) +
         ((CASE WHEN a.n10 = 0 THEN 0 ELSE a.s10 * 1000 // a.n10 END) - (CASE WHEN b.n10 = 0 THEN 0 ELSE b.s10 * 1000 // b.n10 END)) * ((CASE WHEN a.n10 = 0 THEN 0 ELSE a.s10 * 1000 // a.n10 END) - (CASE WHEN b.n10 = 0 THEN 0 ELSE b.s10 * 1000 // b.n10 END)) +
         ((CASE WHEN a.n11 = 0 THEN 0 ELSE a.s11 * 1000 // a.n11 END) - (CASE WHEN b.n11 = 0 THEN 0 ELSE b.s11 * 1000 // b.n11 END)) * ((CASE WHEN a.n11 = 0 THEN 0 ELSE a.s11 * 1000 // a.n11 END) - (CASE WHEN b.n11 = 0 THEN 0 ELSE b.s11 * 1000 // b.n11 END)) +
         ((CASE WHEN a.n12 = 0 THEN 0 ELSE a.s12 * 1000 // a.n12 END) - (CASE WHEN b.n12 = 0 THEN 0 ELSE b.s12 * 1000 // b.n12 END)) * ((CASE WHEN a.n12 = 0 THEN 0 ELSE a.s12 * 1000 // a.n12 END) - (CASE WHEN b.n12 = 0 THEN 0 ELSE b.s12 * 1000 // b.n12 END)) +
         ((CASE WHEN a.n13 = 0 THEN 0 ELSE a.s13 * 1000 // a.n13 END) - (CASE WHEN b.n13 = 0 THEN 0 ELSE b.s13 * 1000 // b.n13 END)) * ((CASE WHEN a.n13 = 0 THEN 0 ELSE a.s13 * 1000 // a.n13 END) - (CASE WHEN b.n13 = 0 THEN 0 ELSE b.s13 * 1000 // b.n13 END)) +
         ((CASE WHEN a.n14 = 0 THEN 0 ELSE a.s14 * 1000 // a.n14 END) - (CASE WHEN b.n14 = 0 THEN 0 ELSE b.s14 * 1000 // b.n14 END)) * ((CASE WHEN a.n14 = 0 THEN 0 ELSE a.s14 * 1000 // a.n14 END) - (CASE WHEN b.n14 = 0 THEN 0 ELSE b.s14 * 1000 // b.n14 END)) +
         ((CASE WHEN a.n15 = 0 THEN 0 ELSE a.s15 * 1000 // a.n15 END) - (CASE WHEN b.n15 = 0 THEN 0 ELSE b.s15 * 1000 // b.n15 END)) * ((CASE WHEN a.n15 = 0 THEN 0 ELSE a.s15 * 1000 // a.n15 END) - (CASE WHEN b.n15 = 0 THEN 0 ELSE b.s15 * 1000 // b.n15 END)) AS BIGINT) AS sq_dist_scaled
FROM prof a JOIN prof b ON b.user_id = a.user_id + 1
"""

from iceberg_examples_spark.operators.coverage import (  # noqa: E402
    AGG_TOP_NAMES,
)
from iceberg_examples_spark.operators.dedup import (  # noqa: E402
    CONTAIN_N,
    CONTAIN_TOKENS,
)

_duck_sh = "list_distinct(list_transform(range(1, greatest(len({t}) - 1, 1) + 1), i -> {t}[CAST(i AS INT)] || ' ' || coalesce({t}[CAST(i AS INT) + 1], {t}[CAST(i AS INT)])))"

EXT_ORACLES["minhash_containment"] = f"""
WITH d AS (
  SELECT doc_id, {_DOC_TOKS} AS tk FROM documents
  WHERE doc_id < {CONTAIN_N}
),
full_sh AS (
  SELECT doc_id, {_duck_sh.format(t='tk')} AS sh_full FROM d
),
subd AS (SELECT doc_id, tk[1:{CONTAIN_TOKENS}] AS tk FROM d),
sub_sh AS (
  SELECT doc_id, {_duck_sh.format(t='tk')} AS sh_sub FROM subd
)
SELECT f.doc_id,
       CAST(len(list_intersect(s.sh_sub, f.sh_full)) AS BIGINT)
         AS n_common,
       CAST(len(s.sh_sub) AS BIGINT) AS n_sub,
       CAST(len(f.sh_full) AS BIGINT) AS n_full
FROM full_sh f JOIN sub_sh s ON f.doc_id = s.doc_id
"""

EXT_ORACLES["partition_stats"] = f"""
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(l_orderkey) AS BIGINT) AS min_key,
       CAST(max(l_orderkey) AS BIGINT) AS max_key,
       {money_sum_sql('l_extendedprice * (1 - l_discount)', scale=10000)}
         AS revenue
FROM lineitem
GROUP BY 1
"""

EXT_ORACLES["ordered_string_agg"] = f"""
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_customers,
       array_to_string(
         (list(c_name ORDER BY c_name))[1:{AGG_TOP_NAMES}], ','
       ) AS first_names
FROM customer
GROUP BY c_nationkey
"""

EXT_ORACLES["mode_per_group"] = """
SELECT c_nationkey, modal_segment, cnt FROM (
  SELECT c_nationkey, c_mktsegment AS modal_segment,
         CAST(count(*) AS BIGINT) AS cnt,
         row_number() OVER (
           PARTITION BY c_nationkey
           ORDER BY count(*) DESC, c_mktsegment ASC
         ) AS rk
  FROM customer GROUP BY c_nationkey, c_mktsegment
) WHERE rk = 1
"""

EXT_ORACLES["dedup_cluster_sizes"] = f"""
WITH sizes AS (
  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
  FROM ({EXT_ORACLES['dedup_components']}) GROUP BY component
)
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(component) AS BIGINT) AS rep_sum
FROM sizes GROUP BY cluster_size
"""

EXT_ORACLES["nested_rollup"] = f"""
WITH nested AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                       AS BIGINT)) AS BIGINT) AS rev_fp
  FROM lineitem GROUP BY l_orderkey
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(n.n_items) AS BIGINT) AS n_items,
       CAST(max(n.n_items) AS BIGINT) AS max_items_per_order,
       CAST(CAST(sum(n.rev_fp) AS BIGINT) AS DOUBLE) / 10000.0 AS revenue
FROM nested n JOIN orders o ON n.l_orderkey = o.o_orderkey
GROUP BY o_orderpriority
"""

EXT_ORACLES["csv_corrupt_records"] = """
SELECT CAST(sum(CASE WHEN n_nationkey % 5 = 0 THEN 0 ELSE 1 END)
            AS BIGINT) AS n_good,
       CAST(sum(CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_corrupt,
       CAST(sum(CASE WHEN n_nationkey % 5 = 0 THEN 0 ELSE n_nationkey END)
            AS BIGINT) AS key_sum
FROM nation
"""

EXT_ORACLES["rolling_24h"] = """
SELECT user_id, event_id,
       CAST(count(*) OVER w AS BIGINT) AS n_24h,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
         AS cents_24h
FROM events
WINDOW w AS (
  PARTITION BY user_id ORDER BY epoch_us(ts)
  RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW
)
"""

EXT_ORACLES["quantile_normalize"] = """
SELECT o_orderkey, o_orderpriority,
       CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
       percent_rank() OVER (
         PARTITION BY o_orderpriority
         ORDER BY CAST(round(o_totalprice * 100) AS BIGINT)
       ) AS q
FROM orders
"""

# merge_sql_exec: the SQL-text execution path of M1 — identical final
# state to merge_upsert's algebraic path, same closed-form oracle text.
EXT_ORACLES["merge_sql_exec"] = """
WITH t(customer_id, name, lastname) AS (
  VALUES (1, 'customer_a', 'lastname-1'),
         (2, 'customer_b', 'lastname-2')
), s(customer_id, name, lastname) AS (
  VALUES (3, 'customer_c-insert(with merge sql)', 'lastname-3-insert(with merge sql)'),
         (2, 'customer_b-updated(with merge sql)', 'lastname-2-updated(with merge sql)')
), final AS (
  SELECT t.customer_id,
         CASE WHEN s.customer_id IS NOT NULL THEN s.name ELSE t.name END AS name,
         CASE WHEN s.customer_id IS NOT NULL THEN s.lastname ELSE t.lastname END AS lastname
  FROM t LEFT JOIN s ON t.customer_id = s.customer_id
  UNION ALL
  SELECT s.* FROM s
  WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.customer_id = s.customer_id)
)
SELECT CAST(customer_id AS BIGINT) AS customer_id, name, lastname FROM final
"""

# scd2_sql_exec: the SQL-text execution path of M4 — identical final
# dimension state to scd2_final's algebraic path, same closed form.
EXT_ORACLES["scd2_sql_exec"] = """
WITH dim(customer_id, name, curr, effective_date, end_date) AS (
  VALUES (1, 'customer_a-V1', false, DATE '2020-01-01', DATE '2020-01-12'),
         (1, 'customer_a-V2', true,  DATE '2020-01-12', DATE '9999-12-31'),
         (2, 'customer_b-V1', true,  DATE '2020-01-01', DATE '9999-12-31')
), stg(customer_id, name, effective_date) AS (
  VALUES (1, 'customer_a-V3', DATE '2020-02-15'),
         (2, 'customer_b-V2', DATE '2020-02-15'),
         (3, 'customer_c-V1', DATE '2020-02-15')
), src AS (
  SELECT customer_id, name, effective_date, DATE '9999-12-31' AS end_date FROM stg
  UNION ALL
  SELECT t.customer_id, t.name, t.effective_date, s.effective_date
  FROM stg s JOIN dim t ON s.customer_id = t.customer_id AND t.curr
), final AS (
  SELECT t.customer_id, t.name,
         CASE WHEN s.customer_id IS NOT NULL THEN false ELSE t.curr END AS curr,
         t.effective_date,
         CASE WHEN s.customer_id IS NOT NULL THEN s.end_date ELSE t.end_date END AS end_date
  FROM dim t LEFT JOIN src s
    ON t.customer_id = s.customer_id AND t.effective_date = s.effective_date
  UNION ALL
  SELECT s.customer_id, s.name, true, s.effective_date, s.end_date
  FROM src s
  WHERE NOT EXISTS (SELECT 1 FROM dim t
                    WHERE t.customer_id = s.customer_id
                      AND t.effective_date = s.effective_date)
)
SELECT CAST(customer_id AS BIGINT) AS customer_id, name,
       curr AS "current", effective_date, end_date
FROM final
"""

EXT_ORACLES["sql_script_replay"] = """
SELECT CAST(customer_id AS BIGINT) AS customer_id, name,
       CAST(3 AS BIGINT) AS final_version
FROM (VALUES (2, 'customer_b'), (3, 'customer_c')) v(customer_id, name)
"""

# stream_curation_ingest: curation_steady_state's exact semantics with
# streaming micro-batch delivery — by construction the same answer, so
# the same oracle verifies both (one source of truth, zero duplication).
EXT_ORACLES["stream_curation_ingest"] = EXT_ORACLES["curation_steady_state"]

EXT_ORACLES["snapshot_rollback"] = f"""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       {money_sum_sql('o_totalprice', scale=100)} AS total_price,
       CAST(2 AS BIGINT) AS final_version,
       CAST(3 AS BIGINT) AS n_snapshots
FROM orders WHERE o_orderkey % 2 = 0
GROUP BY o_orderpriority
"""

EXT_ORACLES["corpus_report"] = f"""
WITH t AS (SELECT doc_id, lang, text, {_toks} AS toks FROM documents),
base AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
         CAST(sum(CASE WHEN ({_quality}) >= {QUALITY_MIN}
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass,
         CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts
  FROM t GROUP BY lang
),
vocab AS (
  SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS vocab_size
  FROM (SELECT lang, unnest(toks) AS tok FROM t) GROUP BY lang
)
SELECT base.lang, n_docs, total_tokens, n_quality_pass,
       n_distinct_texts, vocab_size
FROM base JOIN vocab ON base.lang = vocab.lang
"""

# merge_by_source_exec: the full-sync MERGE (matched update + not-matched
# insert + by-source conditional delete/update) as a three-way UNION of
# the disjoint row fates.
EXT_ORACLES["merge_by_source_exec"] = """
WITH t AS (
  SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS v
  FROM customer WHERE c_custkey % 10 < 5
), s AS (
  SELECT CAST(c_custkey AS BIGINT) AS k, upper(c_name) AS v
  FROM customer WHERE c_custkey % 10 BETWEEN 3 AND 7
), final AS (
  SELECT t.k, s.v FROM t JOIN s ON t.k = s.k
  UNION ALL
  SELECT s.k, s.v FROM s WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.k = s.k)
  UNION ALL
  SELECT t.k, 'retired:' || t.v AS v FROM t
  WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.k = t.k) AND t.k % 3 <> 0
)
SELECT k, v FROM final
"""

# sql_lifecycle_replay: CTAS -> UPDATE -> RENAME -> widen -> DELETE,
# every step recomputed relationally; final_version pins one snapshot
# per statement (v0..v4).
EXT_ORACLES["sql_lifecycle_replay"] = """
WITH base AS (
  SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS v,
         CAST(c_nationkey AS INT) AS n
  FROM customer WHERE c_custkey % 7 < 5
), upd AS (
  SELECT k,
         CASE WHEN n > 12 THEN v || ':flagged' ELSE v END AS label,
         CAST(n AS BIGINT) AS n
  FROM base
)
SELECT k, label, n, CAST(4 AS BIGINT) AS final_version
FROM upd WHERE k % 3 <> 0
"""

# iceberg_partition_debt: position-delete files are written partitioned
# like their target data files, so exactly the one partition the DELETE
# hit carries a delete file; record_count stays the data-file total
# (MOR never rewrites data files) while live_rows reflects the deletes.
EXT_ORACLES["iceberg_partition_debt"] = """
WITH live AS (
  SELECT o_orderstatus, count(*) AS live_rows
  FROM orders
  WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 100000.0)
  GROUP BY o_orderstatus
), tot AS (
  SELECT o_orderstatus, count(*) AS record_count
  FROM orders GROUP BY o_orderstatus
)
SELECT t.o_orderstatus, t.record_count,
       CAST(CASE WHEN t.o_orderstatus = 'F' THEN 1 ELSE 0 END AS INT)
         AS position_delete_file_count,
       l.live_rows,
       (SELECT live_rows FROM live WHERE o_orderstatus = 'F')
         AS pruned_f_rows
FROM tot t JOIN live l ON t.o_orderstatus = l.o_orderstatus
ORDER BY t.o_orderstatus
"""

# stream_from_iceberg_bulk: executor-parallel streaming read — same
# event totals as the simple flavor (the MOR delete snapshot is skipped,
# never retracting emitted rows); the split columns pin the pinned-file
# planning (3 click + 2 purchase files in run 1, 2 view files in run 2).
EXT_ORACLES["stream_from_iceberg_bulk"] = f"""
SELECT event_type, count(*) AS n_rows,
       {money_sum_sql('value', scale=100)} AS total_value,
       CAST(5 AS INT) AS n_splits_run1, CAST(2 AS INT) AS n_splits_run2
FROM events WHERE event_type IN ('click', 'purchase', 'view')
GROUP BY event_type ORDER BY event_type
"""

# iceberg_partition_stats: the partition-statistics FILE round-trip —
# per-partition data rows, the MOR-deleted row count, and deterministic
# file counts (one data file per status from the hash-distributed
# write; the DELETE touches only 'F').
EXT_ORACLES["iceberg_partition_stats"] = """
SELECT o_orderstatus,
       CAST(0 AS INT) AS spec_id,
       count(*) AS data_record_count,
       CAST(1 AS INT) AS data_file_count,
       CAST(sum(CASE WHEN o_orderstatus = 'F'
                      AND o_totalprice < 50000.0
                     THEN 1 ELSE 0 END) AS BIGINT)
         AS position_delete_record_count,
       CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS INT)
         AS position_delete_file_count,
       CAST(0 AS INT) AS equality_delete_file_count
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

# iceberg_add_files: hive-layout registration — per-segment totals must
# survive the partition-column reconstruction (a fill bug lands every
# row under NULL), 5 files registered (repartition(1) x 5 segments),
# and the pruned scan's planning reads exactly one file.
EXT_ORACLES["iceberg_add_files"] = f"""
SELECT c_mktsegment, count(*) AS n_rows,
       {money_sum_sql('c_acctbal', scale=100)} AS total_bal,
       CAST(5 AS INT) AS n_registered,
       (SELECT count(*) FROM customer WHERE c_mktsegment = 'BUILDING')
         AS pruned_rows,
       true AS pruned_reads_one_file
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
"""

# iceberg_deletion_vectors: v2 position deletes convert to DVs on
# upgrade, the second (containing) DELETE merges per-file vectors; the
# survivors are simply rows outside the wider predicate.
EXT_ORACLES["iceberg_deletion_vectors"] = f"""
SELECT count(*) AS n_rows,
       {money_sum_sql('o_totalprice', scale=100)} AS total_price,
       true AS dv_only, true AS one_dv_per_file,
       (SELECT count(*) FROM orders) AS rows_at_v2_create
FROM orders
WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 100000.0)
"""

# dsir_weights: hashed-unigram importance weights, per-lang rollup —
# same bucket hash, same integer ratio-sum as the Spark side. Every
# `//`-derived column is CAST to BIGINT: DuckDB's sum(BIGINT) is
# HUGEINT, so uncast outputs surface as decimal128 through Arrow and
# hash-mismatch a BIGINT Spark column on type, not value (the r10 red
# row — values verified equal at sf0.001/0.01/0.1).
from iceberg_examples_spark.operators.llm_quality import (  # noqa: E402
    DSIR_BUCKETS,
    DSIR_RATIO_SCALE,
    DSIR_TARGET_LANG,
)

EXT_ORACLES["dsir_weights"] = f"""
WITH tok AS (
  SELECT doc_id, lang, {duck_md5_int('t')} % {DSIR_BUCKETS} AS b
  FROM (SELECT doc_id, lang, unnest({DUCK_TOKS.format(col='text')}) AS t
        FROM documents)
), raw AS (
  SELECT b, count(*) AS cr FROM tok GROUP BY b
), tgt AS (
  SELECT b, count(*) AS ct FROM tok
  WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b
), scores AS (
  SELECT r.b, CAST(COALESCE(t.ct, 0) * {DSIR_RATIO_SCALE} // r.cr
               AS BIGINT) AS s
  FROM raw r LEFT JOIN tgt t ON r.b = t.b
), per_doc AS (
  SELECT doc_id, lang, CAST(sum(s) // count(*) AS BIGINT) AS weight
  FROM tok JOIN scores USING (b) GROUP BY doc_id, lang
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(weight) // count(*) AS BIGINT) AS avg_weight,
       max(weight) AS max_weight, min(weight) AS min_weight
FROM per_doc GROUP BY lang ORDER BY lang
"""

# iceberg_refs: deterministic snapshot ids (sequence = commit order
# 1..5); the audit branch at 3 with min-snapshots-to-keep=2 protects
# {3,2}, keep_last protects 5 -> snapshots 1 and 4 expire.
EXT_ORACLES["iceberg_refs"] = """
SELECT * FROM (VALUES
  ('audit', 'branch', CAST(3 AS BIGINT), 2,
   CAST(2 AS BIGINT), CAST(3 AS BIGINT)),
  ('main', 'branch', CAST(5 AS BIGINT), -1,
   CAST(2 AS BIGINT), CAST(3 AS BIGINT))
) AS t(name, type, snapshot_id, min_keep, n_expired, n_snapshots_left)
ORDER BY name
"""

# iceberg_rewrite_datafiles: 3 status partitions x 4 append commits =
# 12 files in, one consolidated file per partition out; the MOR delete
# leaves DVs that drop with their rewritten targets.
EXT_ORACLES["iceberg_rewrite_datafiles"] = f"""
SELECT CAST(12 AS BIGINT) AS files_before,
       CAST(3 AS BIGINT) AS files_after,
       CAST(12 AS BIGINT) AS n_rewritten,
       true AS dv_debt_cleared,
       count(*) AS n_rows,
       {money_sum_sql('o_totalprice', scale=100)} AS total_price
FROM orders WHERE o_totalprice <= 400000.0
"""

# iceberg_default_values: three generations from the custkey residue —
# %3==0 predates the columns (initial-default), %3==1 stores the write
# default bound at add time (same value), %3==2 stores the rebound one.
# prio: 5 for generations 0/1, 9 for generation 2.
EXT_ORACLES["iceberg_default_values"] = f"""
WITH g AS (
  SELECT c_acctbal,
         CASE WHEN c_custkey % 3 = 2 THEN 'pending'
              ELSE 'unclassified' END AS region_class,
         CASE WHEN c_custkey % 3 = 2 THEN 9 ELSE 5 END AS prio
  FROM customer
)
SELECT region_class, count(*) AS n_rows,
       CAST(sum(prio) AS BIGINT) AS prio_sum,
       {money_sum_sql('c_acctbal', scale=100)} AS total_bal
FROM g GROUP BY region_class ORDER BY region_class
"""

# stream_admission_control: 6 pinned data files (4 + 2 across two
# commits) drained 3 per micro-batch -> ceil(6/3) = 2 batches, the
# second crossing the commit boundary mid-snapshot; caught_up is
# pinned true (the Spark side computes it from the checkpoint's
# committed offset vs the table tip, so a short drain mismatches);
# row/id/value totals are one pass over the raw events (a replayed or
# dropped file mismatches).
EXT_ORACLES["stream_admission_control"] = """
SELECT CAST(2 AS BIGINT) AS n_batches,
       count(*) AS n_rows,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct_ids,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents,
       true AS caught_up
FROM events WHERE event_type IN ('click', 'purchase', 'view')
"""

# stream_admission_bulk: stream_admission_control's scenario under its
# own name — the same reader and arithmetic, so the same numbers.
EXT_ORACLES["stream_admission_bulk"] = """
SELECT CAST(2 AS BIGINT) AS n_batches,
       count(*) AS n_rows,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct_ids,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents,
       true AS caught_up
FROM events WHERE event_type IN ('click', 'purchase', 'view')
"""

# object_store_listing: the warehouse layout is PINNED by the
# lifecycle (create repartition(3) + append repartition(2)): 5 data
# parquet, 2 metadata.json, 2 manifest lists + 2 manifests (avro),
# 1 version hint; committer markers excluded. all_nonempty proves the
# listing carries real sizes.
EXT_ORACLES["object_store_listing"] = """
SELECT * FROM (VALUES
  ('data', 'parquet', CAST(5 AS BIGINT), true),
  ('metadata', 'avro', CAST(4 AS BIGINT), true),
  ('metadata', 'json', CAST(2 AS BIGINT), true),
  ('metadata', 'text', CAST(1 AS BIGINT), true)
) AS t(category, ext, n_objects, all_nonempty)
ORDER BY category, ext
"""

# iceberg_table_statistics: per-column exact NDV; sketch_ok is pinned
# true — the Spark side recomputes it from the actual HLL payload, so
# a dishonest sketch breaks the hash even though the oracle can't run
# DataSketches itself.
EXT_ORACLES["iceberg_table_statistics"] = """
SELECT column_name, ndv, true AS sketch_ok FROM (
  SELECT 'o_orderkey' AS column_name,
         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS ndv FROM orders
  UNION ALL
  SELECT 'o_orderstatus',
         CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM orders
  UNION ALL
  SELECT 'o_totalprice',
         CAST(count(DISTINCT o_totalprice) AS BIGINT) FROM orders
) ORDER BY column_name
"""

# iceberg_stats_union: per-column exact NDV over the full orders set
# (the union of the two halves the lifecycle writes); union_ok pinned
# true — the Spark side computes it from the actual merged theta
# payloads vs an in-plan exact count, so a broken union rule
# hash-mismatches even though DuckDB can't run DataSketches.
EXT_ORACLES["iceberg_stats_union"] = """
SELECT * FROM (
  SELECT 'o_orderkey' AS column_name,
         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS ndv_exact,
         true AS union_ok FROM orders
  UNION ALL
  SELECT 'o_orderstatus',
         CAST(count(DISTINCT o_orderstatus) AS BIGINT), true
  FROM orders
  UNION ALL
  SELECT 'o_totalprice',
         CAST(count(DISTINCT o_totalprice) AS BIGINT), true
  FROM orders
)
ORDER BY column_name
"""

# iceberg_changelog_lineage: ids are the 0-based o_orderkey rank
# (single sorted file at create). Snapshot 3's MOR DV delete emits
# delete events (lus still 1); snapshot 4's COW update emits identity
# -paired delete(pre-image, lus 1) + insert(post-image, lus 4) rows —
# same rid set, so sum_row_ids matches across the pair; the upgrade
# (snapshot 2) and the compaction (snapshot 5) contribute nothing.
# The 1/3 slice (o_orderkey % 3 = 0) mirrors the query's input slice.
EXT_ORACLES["iceberg_changelog_lineage"] = f"""
WITH base AS (
  SELECT o_orderstatus, o_totalprice,
         row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
  FROM orders WHERE o_orderkey % 3 = 0
), del3 AS (
  SELECT * FROM base WHERE o_totalprice > 400000.0
), upd AS (
  SELECT * FROM base
  WHERE o_totalprice <= 400000.0
    AND o_orderstatus = 'P' AND o_totalprice < 50000.0
)
SELECT * FROM (
  SELECT CAST(3 AS BIGINT) AS _commit_snapshot_id,
         'delete' AS _change_type,
         CAST(1 AS BIGINT) AS _last_updated_sequence_number,
         count(*) AS n_rows, CAST(sum(rid) AS BIGINT) AS sum_row_ids,
         {money_sum_sql('o_totalprice', scale=100)} AS total_price
  FROM del3
  UNION ALL
  SELECT CAST(4 AS BIGINT), 'delete', CAST(1 AS BIGINT),
         count(*), CAST(sum(rid) AS BIGINT),
         {money_sum_sql('o_totalprice', scale=100)}
  FROM upd
  UNION ALL
  SELECT CAST(4 AS BIGINT), 'insert', CAST(4 AS BIGINT),
         count(*), CAST(sum(rid) AS BIGINT),
         {money_sum_sql('o_totalprice * 2.0', scale=100)}
  FROM upd
)
ORDER BY _commit_snapshot_id, _change_type,
         _last_updated_sequence_number
"""

# iceberg_rewrite_manifests: 3 data commits (manifest list carries 1,
# then 2, then 3) + 1 delete manifest = 4 at the tip; consolidation
# collapses to 2 (one data, one delete) without moving a row.
EXT_ORACLES["iceberg_rewrite_manifests"] = f"""
SELECT count(*) AS n_rows,
       {money_sum_sql('o_totalprice', scale=100)} AS total_price,
       CAST(4 AS BIGINT) AS manifests_before,
       CAST(2 AS BIGINT) AS manifests_after,
       CAST(2 AS BIGINT) AS n_eliminated
FROM orders WHERE o_totalprice >= 10000.0
"""

# iceberg_row_lineage: ids are the 0-based o_orderkey rank (single
# sorted file at create); the COW update bumps last-updated to seq 3
# for predicate rows only; compaction changes nothing.
EXT_ORACLES["iceberg_row_lineage"] = f"""
WITH base AS (
  SELECT CASE WHEN o_orderstatus = 'P' AND o_totalprice < 50000.0
              THEN CAST(3 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS lus,
         CASE WHEN o_orderstatus = 'P' AND o_totalprice < 50000.0
              THEN o_totalprice * 2.0 ELSE o_totalprice END
           AS o_totalprice,
         row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
  FROM orders
)
SELECT lus AS _last_updated_sequence_number, count(*) AS n_rows,
       CAST(sum(rid) AS BIGINT) AS sum_row_ids,
       {money_sum_sql('o_totalprice', scale=100)} AS total_price
FROM base GROUP BY lus ORDER BY lus
"""
