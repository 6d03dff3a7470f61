"""DuckDB oracle SQL for the dedup / similarity / text-analysis operators.

Mirrors operators/dedup.py, operators/similarity.py and operators/textstats.py
expression-for-expression from the shared constants in functions/texthash.py
— the driver runs these side-by-side with the Spark plans at sf0.01 and
compares sorted value hashes.
"""

from __future__ import annotations

from ..functions import texthash as TH
from . import oracle as geo_sql


def _with_pages(select_sql: str) -> str:
    """Prefix the gaz/pages derivation CTEs (corpus = derived pages table)."""
    return (
        "WITH " + ",\n".join([geo_sql.gaz_cte(), geo_sql.pages_cte()]) + ",\n" + select_sql
    )


def _with_pages_recursive(select_sql: str) -> str:
    """Same, with RECURSIVE enabled (the keyword applies to the whole WITH
    list in DuckDB) — used by the connected-components closure oracles."""
    return (
        "WITH RECURSIVE "
        + ",\n".join([geo_sql.gaz_cte(), geo_sql.pages_cte()])
        + ",\n"
        + select_sql
    )


def _closure_sql(edges_cte: str) -> str:
    """Connected components over an ``edges(id_a, id_b)`` CTE as a recursive
    transitive closure + min-label — mirrors operators.dedup.dedup_clusters
    (min-label propagation to fixpoint) exactly: cluster = min reachable id,
    over the nodes incident to at least one edge.  Closure size is Σ|C_i|²
    — bounded by the near-clique dup-cluster structure at oracle scale."""
    return f"""{edges_cte},
und AS (SELECT id_a AS src, id_b AS dst FROM edges
        UNION SELECT id_b, id_a FROM edges),
nodes AS (SELECT DISTINCT src AS id FROM und),
reach AS (SELECT id, id AS r FROM nodes
          UNION SELECT reach.id, und.dst FROM reach JOIN und ON und.src = reach.r),
labels AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
SELECT cluster, count(*) AS size FROM labels GROUP BY 1"""


def dedup_exact_sql() -> str:
    return _with_pages(
        "g AS (SELECT sha256(text) AS text_sha, count(*) AS n_copies, min(url) AS keeper "
        "FROM pages GROUP BY 1)\n"
        "SELECT text_sha, n_copies, keeper FROM g WHERE n_copies > 1"
    )


def _shingle_ctes(max_bucket: int | None = None) -> str:
    sh = TH.word_shingles_sql("text")
    mins = ", ".join(TH.minhash_min_aggs_sql("h"))
    keys = ", ".join(TH.band_key_sql(b) for b in range(TH.MINHASH_BANDS))
    bands_union = "\nUNION ALL ".join(
        f"SELECT id, {b} AS band, bk{b} AS key FROM keys" for b in range(TH.MINHASH_BANDS)
    )
    cap = ""
    if max_bucket is not None:
        # mirror operators.dedup.lsh_candidates' cap (via _bucket_pairs):
        # keep the max_bucket smallest ids per (band, key) bucket before
        # pairing
        cap = f"""
bands_rk AS (SELECT *, row_number() OVER (PARTITION BY band, key ORDER BY id ASC) AS rk
             FROM bands),"""
        bands_src = f"(SELECT id, band, key FROM bands_rk WHERE rk <= {max_bucket})"
    else:
        bands_src = "bands"
    return f"""shr AS (SELECT url AS id, unnest({sh}) AS s FROM pages),
shh AS (SELECT DISTINCT id, {TH.h60_sql('s')} AS h FROM shr),
sigs AS (SELECT id, {mins} FROM shh GROUP BY id),
keys AS (SELECT id, {keys} FROM sigs),
bands AS ({bands_union}),{cap}
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM {bands_src} a
         JOIN {bands_src} b ON a.band = b.band AND a.key = b.key AND a.id < b.id),
sizes AS (SELECT id, count(*) AS n FROM shh GROUP BY id),
inter AS (SELECT c.id_a, c.id_b, count(*) AS inter FROM cand c
          JOIN shh sa ON sa.id = c.id_a JOIN shh sb ON sb.id = c.id_b AND sb.h = sa.h
          GROUP BY 1, 2)"""


def dedup_minhash_sql(
    threshold_ppm: int = 700_000, max_bucket: int | None = None
) -> str:
    return _with_pages(
        _shingle_ctes(max_bucket)
        + f""",
jac AS (SELECT i.id_a, i.id_b, i.inter, na.n + nb.n - i.inter AS uni,
               CAST(floor(1e6 * i.inter / (na.n + nb.n - i.inter)) AS BIGINT) AS jac_ppm
        FROM inter i JOIN sizes na ON na.id = i.id_a JOIN sizes nb ON nb.id = i.id_b)
SELECT id_a, id_b, inter, uni, jac_ppm FROM jac WHERE jac_ppm >= {threshold_ppm}"""
    )


def dedup_simhash_sql(max_hamming: int = 3, max_bucket: int | None = None) -> str:
    bits = ", ".join(TH.simhash_bit_aggs_sql("h"))
    bands_union = "\nUNION ALL ".join(
        f"SELECT id, simhash, {k} AS band, "
        f"(simhash >> {k * TH.SIMHASH_BAND_BITS}) & {(1 << TH.SIMHASH_BAND_BITS) - 1} AS key "
        "FROM st"
        for k in range(TH.SIMHASH_BANDS)
    )
    cap = ""
    bands_src = "bands"
    if max_bucket is not None:
        cap = """
bands_rk AS (SELECT *, row_number() OVER (PARTITION BY band, key ORDER BY id ASC) AS rk
             FROM bands),"""
        bands_src = (
            f"(SELECT id, simhash, band, key FROM bands_rk WHERE rk <= {max_bucket})"
        )
    return _with_pages(
        f"""tok AS (SELECT DISTINCT url AS id, unnest({TH.tokens_sql('text')}) AS t FROM pages),
tokh AS (SELECT id, {TH.h60_sql('t')} AS h FROM tok),
bits AS (SELECT id, {bits} FROM tokh GROUP BY id),
st AS (SELECT id, {TH.simhash_from_bits_sql()} AS simhash FROM bits),
bands AS ({bands_union}),{cap}
pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.simhash AS sh_a, b.simhash AS sh_b
          FROM {bands_src} a JOIN {bands_src} b ON a.band = b.band AND a.key = b.key AND a.id < b.id)
SELECT id_a, id_b, bit_count(xor(sh_a, sh_b)) AS hamming FROM pairs
WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}"""
    )


def _ngram_prefix_ctes(threshold_ppm: int, suffix: str = "") -> str:
    """Shared CTE chain for rarest-first prefix filtering (mirrors
    operators.dedup._ngram_doc_arrays): distinct (id, word-n-gram-hash)
    rows — the SAME shingle space dedup_minhash signs — global gram
    document-frequency, per-doc (df, h)-ranked grams, prefix of length
    n − ⌈t·n⌉ + 1 (exact integer ceiling — the same
    (t·n + 999999) // 1e6 arithmetic as the Spark `div` expression)."""
    sh = TH.word_shingles_sql("text")
    s = suffix
    return f"""raw{s} AS (SELECT url AS id, unnest({sh}) AS sg FROM pages),
base{s} AS (SELECT DISTINCT id, {TH.h60_sql('sg')} AS h FROM raw{s}),
gdf{s} AS (SELECT h, count(*) AS df FROM base{s} GROUP BY 1),
cnt{s} AS (SELECT id, count(*) AS n FROM base{s} GROUP BY 1),
ranked{s} AS (SELECT b.id, b.h,
                     row_number() OVER (PARTITION BY b.id ORDER BY g.df ASC, b.h ASC) AS rk
              FROM base{s} b JOIN gdf{s} g ON g.h = b.h),
pref{s} AS (SELECT r.id, r.h FROM ranked{s} r JOIN cnt{s} c ON c.id = r.id
            WHERE r.rk <= c.n - (({threshold_ppm} * c.n + 999999) // 1000000) + 1)"""


def dedup_ngram_sql(
    threshold_ppm: int = 800_000, max_block: int | None = None
) -> str:
    if max_block is not None:
        cap = """,
pref_rk AS (SELECT *, row_number() OVER (PARTITION BY h ORDER BY id ASC) AS rk FROM pref)"""
        pref_src = f"(SELECT id, h FROM pref_rk WHERE rk <= {max_block})"
    else:
        cap = ""
        pref_src = "pref"
    return _with_pages(
        f"""{_ngram_prefix_ctes(threshold_ppm)}{cap},
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM {pref_src} a JOIN {pref_src} b ON a.h = b.h AND a.id < b.id),
inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
          FROM cand c JOIN base sa ON sa.id = c.id_a
                      JOIN base sb ON sb.id = c.id_b AND sb.h = sa.h
          GROUP BY 1, 2),
jac AS (SELECT i.id_a, i.id_b,
               CAST(floor(1e6 * i.inter / (ca.n + cb.n - i.inter)) AS BIGINT) AS jac_ppm
        FROM inter i JOIN cnt ca ON ca.id = i.id_a JOIN cnt cb ON cb.id = i.id_b)
SELECT id_a, id_b, jac_ppm FROM jac WHERE jac_ppm >= {threshold_ppm}"""
    )


def dedup_embed_sql(
    dim: int = 64, n_planes: int = 8, threshold_ppm: int = 300_000
) -> str:
    planes = TH.srp_planes(n_planes, dim)
    scaled = TH.emb_scaled_sql("embedding")
    bucket = TH.srp_bucket_sql("v", planes)
    dot = TH.int_dot_sql("a.v", "b.v", dim)
    norm = TH.int_dot_sql("v", "v", dim)
    return f"""WITH base AS (
  SELECT vec_id AS id, {scaled} AS v FROM embeddings
),
bk AS (SELECT id, v, {bucket} AS bucket, {norm} AS norm2 FROM base),
pairs AS (SELECT a.id AS id_a, b.id AS id_b, {dot} AS dot,
                 a.norm2 AS na2, b.norm2 AS nb2
          FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.id < b.id)
SELECT id_a, id_b,
       CAST(floor(1e6 * dot / sqrt(CAST(na2 AS DOUBLE) * CAST(nb2 AS DOUBLE))) AS BIGINT) AS cos_ppm
FROM pairs
WHERE CAST(floor(1e6 * dot / sqrt(CAST(na2 AS DOUBLE) * CAST(nb2 AS DOUBLE))) AS BIGINT) >= {threshold_ppm}"""


# ---------------------------------------------------------------------------
# similarity (operators/similarity.py)
# ---------------------------------------------------------------------------


def _ann_ctes(n_planes: int | None, dim: int) -> str:
    scaled = TH.emb_scaled_sql("embedding")
    norm = TH.int_dot_sql("v", "v", dim)
    bucket = (
        f", {TH.srp_bucket_sql('v', TH.srp_planes(n_planes, dim))} AS bucket"
        if n_planes
        else ""
    )
    return f"""base AS (SELECT vec_id AS id, {scaled} AS v FROM embeddings),
bk AS (SELECT id, v, {norm} AS norm2{bucket} FROM base)"""


def _ann_select(k: int, query_mod: int, join_on_bucket: bool, dim: int) -> str:
    dot = TH.int_dot_sql("q.v", "c.v", dim)
    on = "q.bucket = c.bucket AND " if join_on_bucket else ""
    return f""",
pairs AS (SELECT q.id AS query_id, c.id AS neighbor_id, {dot} AS dot,
                 q.norm2 AS qn2, c.norm2 AS cn2
          FROM (SELECT * FROM bk WHERE id % {query_mod} = 0) q
          JOIN bk c ON {on}q.id <> c.id),
scored AS (SELECT query_id, neighbor_id,
       CAST(floor(1e6 * dot / sqrt(CAST(qn2 AS DOUBLE) * CAST(cn2 AS DOUBLE))) AS BIGINT) AS cos_ppm
       FROM pairs),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY cos_ppm DESC, neighbor_id ASC) AS rank FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_ppm FROM ranked WHERE rank <= {k}"""


def ann_topk_sql(dim: int = 64, k: int = 10, query_mod: int = 50) -> str:
    return "WITH " + _ann_ctes(None, dim) + _ann_select(k, query_mod, False, dim)


def ann_lsh_topk_sql(
    dim: int = 64, k: int = 10, query_mod: int = 50, n_planes: int = 8
) -> str:
    return "WITH " + _ann_ctes(n_planes, dim) + _ann_select(k, query_mod, True, dim)


# ---------------------------------------------------------------------------
# text analysis (operators/textstats.py)
# ---------------------------------------------------------------------------


def lang_id_sql() -> str:
    from ..operators.textstats import marker_rows

    vals = ", ".join(f"('{w}', '{lang}')" for w, lang in marker_rows())
    return f"""WITH markers(t, m_lang) AS (VALUES {vals}),
tok AS (SELECT doc_id AS id, unnest({TH.tokens_sql('text')}) AS t FROM documents),
hits AS (SELECT tok.id, m.m_lang, count(*) AS hits FROM tok JOIN markers m ON m.t = tok.t
         GROUP BY 1, 2),
best AS (SELECT *, row_number() OVER (PARTITION BY id ORDER BY hits DESC, m_lang ASC) AS rk
         FROM hits)
SELECT d.doc_id AS id, coalesce(b.m_lang, 'und') AS pred_lang,
       coalesce(b.hits, 0) AS hits
FROM documents d LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON b.id = d.doc_id"""


def text_quality_sql() -> str:
    """Quality features + the Gopher repetition columns (top token / top
    bigram occurrence share) in one relation — the DuckDB twin of the
    driver's widened text_quality entry (LEFT JOIN: docs with < 2 tokens
    carry NULL repetition columns, like the Spark side)."""
    t = TH.tokens_sql("text")
    return f"""WITH base AS (
  SELECT doc_id AS id, text, {t} AS tok,
         regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS bpe
  FROM documents
),
feat AS (
  SELECT id,
    CAST(length(text) AS BIGINT) AS n_chars,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
    CAST(len(bpe) AS BIGINT) AS n_bpe_tokens,
    CAST(len(list_distinct(tok)) AS BIGINT) AS uniq_tokens,
    coalesce(list_sum(list_transform(tok, x -> CAST(length(x) AS BIGINT))), 0) AS tok_chars,
    greatest(len(tok), 1) AS safe_ntok,
    len(tok) AS n_tok
  FROM base
),
rbase AS (
  SELECT id, tok AS tk FROM base WHERE len(tok) >= 2
),
rtoks AS (SELECT id, unnest(tk) AS t FROM rbase),
rtokc AS (SELECT id, t, count(*) AS c FROM rtoks GROUP BY 1, 2),
rtstat AS (SELECT id, max(c) AS tmx, sum(c) AS ttot FROM rtokc GROUP BY 1),
rbigrams AS (
  SELECT id, unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])) AS g
  FROM rbase
),
rbigc AS (SELECT id, g, count(*) AS c FROM rbigrams GROUP BY 1, 2),
rbstat AS (SELECT id, max(c) AS bmx, sum(c) AS btot FROM rbigc GROUP BY 1),
rep AS (
  SELECT t.id,
         CAST(floor(1e6 * t.tmx / t.ttot) AS BIGINT) AS top_token_ppm,
         CAST(floor(1e6 * b.bmx / b.btot) AS BIGINT) AS top_bigram_ppm
  FROM rtstat t JOIN rbstat b ON b.id = t.id
)
SELECT f.id, n_chars, n_ws_tokens, n_bpe_tokens, uniq_tokens,
  CAST(floor(1e6 * tok_chars / safe_ntok) AS BIGINT) AS avg_tok_len_ppm,
  CAST(floor(1e6 * uniq_tokens / safe_ntok) AS BIGINT) AS uniq_ratio_ppm,
  CAST(floor(1e6 * (0.5 * uniq_tokens / safe_ntok + 0.5 * least(n_tok, 200) / 200.0)) AS BIGINT) AS quality_ppm,
  rep.top_token_ppm, rep.top_bigram_ppm
FROM feat f LEFT JOIN rep ON rep.id = f.id"""


def doc_fingerprint_sql(k: int = 8, window: int = 16) -> str:
    n = f"greatest(1, length(text) - {k - 2})"
    h = TH.h60_sql(f"substr(text, i, {k})")
    return f"""WITH grams AS (
  SELECT doc_id AS id,
         unnest(range(1, {n})) AS pos,
         unnest(list_transform(range(1, {n}), i -> {h})) AS h
  FROM documents
),
mins AS (SELECT DISTINCT id, min(h) OVER (PARTITION BY id ORDER BY pos ASC
         ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS fp FROM grams)
SELECT id, count(*) AS n_fp, bit_xor(fp) AS fp_xor FROM mins GROUP BY id"""


# ---------------------------------------------------------------------------
# multimodal features (operators/media.py)
# ---------------------------------------------------------------------------


def media_features_sql(frame_stride: int = 64) -> str:
    f = lambda j: f"CAST(concat('0x', substr(md5(s), {1 + 8 * j}, 8)) AS BIGINT)"
    return f"""WITH m AS (
  SELECT doc_id AS media_id,
    CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio'
         ELSE 'video' END AS kind, text
  FROM documents
),
p AS (SELECT media_id, kind, 'MEDIA:' || kind || ':' || text AS s FROM m)
SELECT media_id, kind,
  CAST(octet_length(encode(s)) AS BIGINT) AS byte_len,
  CAST(octet_length(encode(s)) // {frame_stride} + 1 AS BIGINT) AS n_frames,
  {f(0)} AS f0, {f(1)} AS f1, {f(2)} AS f2, {f(3)} AS f3
FROM p"""


def ann_ivf_topk_sql(
    dim: int = 64,
    k: int = 10,
    query_mod: int = 50,
    nprobe: int = 2,
) -> str:
    scaled = TH.emb_scaled_sql("embedding")
    norm = TH.int_dot_sql("v", "v", dim)
    ccos = (
        f"CAST(floor(1e6 * {TH.int_dot_sql('b.v', 'c.cv', dim)} / "
        "sqrt(CAST(b.norm2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE))) AS BIGINT)"
    )
    qcos = (
        f"CAST(floor(1e6 * {TH.int_dot_sql('q_v', 'c_v', dim)} / "
        "sqrt(CAST(q_n2 AS DOUBLE) * CAST(c_n2 AS DOUBLE))) AS BIGINT)"
    )
    # mirror operators.similarity.ivf_centroid_step: ~sqrt(N) centroids via
    # deterministic stride (floor(sqrt) on the double — same op both engines);
    # the `1 % step` right-hand side mirrors the step==1 degenerate case
    # (every vector a centroid) exactly like the Spark filter
    step = (
        "greatest(1, (SELECT count(*) FROM embeddings) // "
        "greatest(16, CAST(floor(sqrt(CAST((SELECT count(*) FROM embeddings) AS DOUBLE))) AS BIGINT)))"
    )
    return f"""WITH base0 AS (SELECT vec_id AS id, {scaled} AS v FROM embeddings),
base AS (SELECT id, v, {norm} AS norm2 FROM base0),
cents AS (SELECT id AS cent_id, v AS cv, norm2 AS cn2 FROM base WHERE id % {step} = 1 % {step}),
ranked AS (SELECT b.id, c.cent_id, b.v, b.norm2,
           row_number() OVER (PARTITION BY b.id ORDER BY {ccos} DESC, c.cent_id ASC) AS crank
           FROM base b CROSS JOIN cents c),
assign AS (SELECT id AS c_id, cent_id, v AS c_v, norm2 AS c_n2 FROM ranked WHERE crank = 1),
probes AS (SELECT id AS q_id, cent_id, v AS q_v, norm2 AS q_n2 FROM ranked
           WHERE crank <= {nprobe} AND id % {query_mod} = 0),
cand AS (SELECT DISTINCT p.q_id, a.c_id, p.q_v, p.q_n2, a.c_v, a.c_n2
         FROM probes p JOIN assign a USING (cent_id) WHERE p.q_id <> a.c_id),
scored AS (SELECT q_id AS query_id, c_id AS neighbor_id, {qcos} AS cos_ppm FROM cand),
r2 AS (SELECT *, row_number() OVER (PARTITION BY query_id
       ORDER BY cos_ppm DESC, neighbor_id ASC) AS rank FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_ppm FROM r2 WHERE rank <= {k}"""


def contamination_sql(n: int = 8, bench_mod: int = 97, min_hits: int = 1) -> str:
    """Benchmark n-gram decontamination oracle: corpus = pages, benchmark =
    documents with doc_id % bench_mod == 0."""
    grams = TH.word_shingles_sql("text", n)
    return _with_pages(
        f"""cgr AS (SELECT url AS id, unnest({grams}) AS s FROM pages),
cg AS (SELECT DISTINCT id, {TH.h60_sql('s')} AS h FROM cgr),
bgr AS (SELECT unnest({grams}) AS s FROM documents WHERE doc_id % {bench_mod} = 0),
bg AS (SELECT DISTINCT {TH.h60_sql('s')} AS h FROM bgr),
hits AS (SELECT cg.id, count(*) AS n_gram_hits FROM cg JOIN bg USING (h) GROUP BY cg.id)
SELECT p.url AS id, coalesce(h.n_gram_hits, 0) AS n_gram_hits,
       coalesce(h.n_gram_hits, 0) >= {min_hits} AS contaminated
FROM pages p LEFT JOIN hits h ON h.id = p.url"""
    )


def dedup_block_stats_sql(
    max_bucket: int = 8,
    threshold_ppm: int = 800_000,
    max_block: int = 16,
) -> str:
    """Union overflow report: MinHash-LSH bucket caps + rarest-first n-gram
    prefix-bucket caps, one row per blocking family (mirrors
    dedup.lsh_bucket_stats ∪ dedup.ngram_block_stats)."""
    sh = TH.word_shingles_sql("text")
    mins = ", ".join(TH.minhash_min_aggs_sql("h"))
    keys = ", ".join(TH.band_key_sql(b) for b in range(TH.MINHASH_BANDS))
    bands_union = "\nUNION ALL ".join(
        f"SELECT id, {b} AS band, bk{b} AS key FROM keys"
        for b in range(TH.MINHASH_BANDS)
    )
    return _with_pages(
        f"""shr AS (SELECT url AS id, unnest({sh}) AS s FROM pages),
shh AS (SELECT DISTINCT id, {TH.h60_sql('s')} AS h FROM shr),
sigs AS (SELECT id, {mins} FROM shh GROUP BY id),
keys AS (SELECT id, {keys} FROM sigs),
bands AS ({bands_union}),
sizes AS (SELECT band, key, count(*) AS c FROM bands GROUP BY 1, 2),
{_ngram_prefix_ctes(threshold_ppm)},
nblk AS (SELECT h, count(*) AS c FROM pref GROUP BY 1)
SELECT 'lsh_minhash' AS family, count(*) AS n_buckets,
       CAST(sum(CASE WHEN c > {max_bucket} THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap,
       max(c) AS max_bucket_size
FROM sizes
UNION ALL
SELECT 'ngram_prefix' AS family, count(*) AS n_buckets,
       CAST(sum(CASE WHEN c > {max_block} THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap,
       max(c) AS max_bucket_size
FROM nblk"""
    )


def dedup_clusters_sql(max_hamming: int = 3) -> str:
    """Exact oracle for the SimHash star-edge → connected-components query
    (upgraded from rows-only, round-2 review item 3 adjacent): star edges =
    bucket member → bucket-min (arg_min mirrors Spark's min_by over the
    (band, key) window), hamming-filtered, then the recursive closure."""
    bits = ", ".join(TH.simhash_bit_aggs_sql("h"))
    bands_union = "\nUNION ALL ".join(
        f"SELECT id, simhash, {k} AS band, "
        f"(simhash >> {k * TH.SIMHASH_BAND_BITS}) & {(1 << TH.SIMHASH_BAND_BITS) - 1} AS key "
        "FROM st"
        for k in range(TH.SIMHASH_BANDS)
    )
    edges = f"""tok AS (SELECT DISTINCT url AS id, unnest({TH.tokens_sql('text')}) AS t FROM pages),
tokh AS (SELECT id, {TH.h60_sql('t')} AS h FROM tok),
bits AS (SELECT id, {bits} FROM tokh GROUP BY id),
st AS (SELECT id, {TH.simhash_from_bits_sql()} AS simhash FROM bits),
bands AS ({bands_union}),
bmins AS (SELECT band, key, min(id) AS mn, arg_min(simhash, id) AS mn_sh
          FROM bands GROUP BY 1, 2),
edges0 AS (SELECT DISTINCT m.mn AS id_a, b.id AS id_b, m.mn_sh AS sh_a, b.simhash AS sh_b
           FROM bands b JOIN bmins m ON m.band = b.band AND m.key = b.key AND b.id <> m.mn),
edges AS (SELECT DISTINCT id_a, id_b FROM edges0
          WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming})"""
    return _with_pages_recursive(_closure_sql(edges))


def dedup_clusters_star_sql(threshold_ppm: int = 700_000) -> str:
    """Exact oracle for the MinHash star-edge → exact-Jaccard verify →
    connected-components query: uncapped LSH bands, bucket-min star edges,
    shingle-set Jaccard gate, recursive closure."""
    sh = TH.word_shingles_sql("text")
    mins = ", ".join(TH.minhash_min_aggs_sql("h"))
    keys = ", ".join(TH.band_key_sql(b) for b in range(TH.MINHASH_BANDS))
    bands_union = "\nUNION ALL ".join(
        f"SELECT id, {b} AS band, bk{b} AS key FROM keys"
        for b in range(TH.MINHASH_BANDS)
    )
    edges = f"""shr AS (SELECT url AS id, unnest({sh}) AS s FROM pages),
shh AS (SELECT DISTINCT id, {TH.h60_sql('s')} AS h FROM shr),
sigs AS (SELECT id, {mins} FROM shh GROUP BY id),
keys AS (SELECT id, {keys} FROM sigs),
bands AS ({bands_union}),
bmins AS (SELECT band, key, min(id) AS mn FROM bands GROUP BY 1, 2),
cand AS (SELECT DISTINCT m.mn AS id_a, b.id AS id_b
         FROM bands b JOIN bmins m ON m.band = b.band AND m.key = b.key AND b.id <> m.mn),
sizes AS (SELECT id, count(*) AS n FROM shh GROUP BY id),
inter AS (SELECT c.id_a, c.id_b, count(*) AS inter FROM cand c
          JOIN shh sa ON sa.id = c.id_a JOIN shh sb ON sb.id = c.id_b AND sb.h = sa.h
          GROUP BY 1, 2),
edges AS (SELECT i.id_a, i.id_b FROM inter i
          JOIN sizes na ON na.id = i.id_a JOIN sizes nb ON nb.id = i.id_b
          WHERE CAST(floor(1e6 * i.inter / (na.n + nb.n - i.inter)) AS BIGINT) >= {threshold_ppm})"""
    return _with_pages_recursive(_closure_sql(edges))


def dedup_clusters_variants_sql(
    max_hamming: int = 3, threshold_ppm: int = 700_000
) -> str:
    """Round-5 registry merge: both clustering formulations (SimHash star
    edges; MinHash star edges + exact-Jaccard verify) tagged by ``variant``
    and unioned — each side keeps its full recursive-CTE closure oracle
    (the WITH RECURSIVE lists live inside derived-table subqueries, which
    DuckDB scopes independently)."""
    return (
        f"SELECT 'simhash_star' AS variant, * FROM ({dedup_clusters_sql(max_hamming)})\n"
        "UNION ALL\n"
        f"SELECT 'minhash_star' AS variant, * FROM ({dedup_clusters_star_sql(threshold_ppm)})"
    )


def url_from_doc_sql() -> str:
    """Deterministic per-doc url derivation — the DuckDB twin of the JVM
    concat in __spark_entry__._q_domain_cap.  Three families: a mega-domain
    behind rotating crawl hosts (skew), a ccTLD 3-label registrable suffix
    behind userinfo+port (host-extraction edge), and a 13-domain .org tail."""
    return (
        "CASE WHEN doc_id % 3 = 0 THEN 'https://crawl' || CAST(doc_id % 7 AS VARCHAR)"
        " || '.mega-site.com/p/' || CAST(doc_id AS VARCHAR)"
        " WHEN doc_id % 3 = 1 THEN 'http://u:pw@d' || CAST(doc_id % 23 AS VARCHAR)"
        " || '.shop.example.co.uk:8080/item?id=' || CAST(doc_id AS VARCHAR)"
        " ELSE 'https://w' || CAST(doc_id % 11 AS VARCHAR)"
        " || '.site' || CAST(doc_id % 13 AS VARCHAR) || '.org/x' END"
    )


def domain_cap_sql(cap: int = 40) -> str:
    """Exact per-registrable-domain keeper cap over the documents table
    (mirrors operators.domains.domain_cap with order = n_chars DESC, doc_id
    — n_chars is used instead of length(text) so the order key is engine-
    independent bytes): regexp host, PSL-heuristic registrable domain,
    row_number election.  The oracle's single global window and the Spark
    two-phase salt-shard election must pick identical keepers (the two-phase
    exactness lemma, operators/domains.py docstring)."""
    from ..operators.domains import _CC_SLD, _HOST_RE

    sld = ", ".join(f"'{s}'" for s in _CC_SLD)
    return f"""WITH u AS (
  SELECT doc_id, n_chars, {url_from_doc_sql()} AS url FROM documents
), h AS (
  SELECT doc_id, n_chars,
         lower(regexp_extract(url, '{_HOST_RE}', 1)) AS host
  FROM u
), d AS (
  SELECT doc_id, n_chars,
    CASE WHEN regexp_matches(host, '^[0-9.]+$')
              OR len(string_split(host, '.')) <= 2 THEN host
         ELSE array_to_string(list_slice(
           string_split(host, '.'),
           len(string_split(host, '.')) + 1 - (CASE WHEN
             length(string_split(host, '.')[-1]) = 2
             AND string_split(host, '.')[-2] IN ({sld})
             THEN 3 ELSE 2 END),
           len(string_split(host, '.'))), '.')
    END AS domain
  FROM h
)
SELECT doc_id, domain, dom_rank FROM (
  SELECT doc_id, domain,
         row_number() OVER (PARTITION BY domain ORDER BY n_chars DESC, doc_id)
           AS dom_rank
  FROM d) WHERE dom_rank <= {cap}"""


def media_frame_features_sql(frame_stride: int = 64, every: int = 16) -> str:
    """Features + frame-sampling plan in one relation (mirrors
    media.frame_features): video rows explode per sampled frame index,
    image/audio rows carry a NULL frame_idx.  Spark sequence(0, n-1, s) ==
    DuckDB range(0, n, s) element-for-element."""
    return (
        "SELECT media_id, kind, byte_len, n_frames, f0, f1, f2, f3, "
        f"unnest(CASE WHEN kind = 'video' THEN range(0, n_frames, {every}) "
        "ELSE [CAST(NULL AS BIGINT)] END) AS frame_idx "
        f"FROM ({media_features_sql(frame_stride)})"
    )
