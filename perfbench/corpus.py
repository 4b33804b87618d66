"""The corpus_ops operations: one engine call and one DuckDB oracle query
per operator. ``build`` returns the lazy DataFrame the operator API hands
back; the timed action runs after it (``NOOP_SINK`` operators write to
Spark's noop sink, every other operator's result is collected)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparksqlplus_spark.operators.dedup import (
    MINHASH_P,
    exact_dedup,
    minhash_dedup_pairs,
    minhash_params,
    simhash,
)
from sparksqlplus_spark.operators.similarity import (
    LSH_QUANT,
    cosine_topk,
    hyperplane_int,
    lsh_cosine_topk,
)
from sparksqlplus_spark.operators.text import text_stats
from sparksqlplus_spark.operators.wcoj import triangles_wcoj

from datagen import EMBED_DIM

NOOP_SINK = {"text_stats"}
MINHASH_HASHES = 12

_H52 = "CAST(('0x' || substr(md5({s}), 1, 13)) AS BIGINT)"
_TOKS = "list_filter(regexp_split_to_array(lower({t}), '\\s+'), x -> x <> '')"
_SHINGLES = (
    "list_distinct([array_to_string(__toks[i:i+2], ' ') "
    "for i in range(1, greatest(len(__toks) - 2, 1) + 1)])"
)


def _sources_in(params: dict) -> str:
    return ", ".join(f"'src{s}'" for s in params["sources"])


def _docs(tables: dict[str, DataFrame], params: dict) -> DataFrame:
    return tables["docs_aug"].filter(
        F.col("source").isin([f"src{s}" for s in params["sources"]])
    )


def _queries(tables: dict[str, DataFrame], params: dict) -> DataFrame:
    return tables["embeddings"].filter(F.col("vec_id").isin(params["queries"])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def build(name: str, tables: dict[str, DataFrame], p: dict) -> DataFrame:
    """Call operator ``name`` with parameters ``p``; returns its lazy result."""
    if name == "dedup_exact":
        return exact_dedup(_docs(tables, p), "text", "doc_id")
    if name == "dedup_minhash":
        # the whole corpus: the operator persists its shingle frame, and a
        # fixed input lets repeated calls share it instead of piling up
        return minhash_dedup_pairs(
            tables["docs_aug"], "text", "doc_id", n_hashes=MINHASH_HASHES,
            bands=p["bands"], shingle_n=3, threshold=p["threshold"],
        )
    if name == "dedup_simhash":
        return simhash(_docs(tables, p), "text", "doc_id", bits=32)
    if name == "text_stats":
        return text_stats(_docs(tables, p), "text", "doc_id")
    if name in ("cosine_topk", "lsh_ann"):
        emb, q = tables["embeddings"], _queries(tables, p)
        if name == "cosine_topk":
            df = cosine_topk(emb, q, k=p["k"])
        else:
            df = lsh_cosine_topk(emb, q, dim=EMBED_DIM, k=p["k"], n_planes=p["n_planes"])
        return df.select("query_id", "neighbor_id", "rank")
    if name == "wcoj_triangles":
        g = tables["graph"]
        return triangles_wcoj(g.filter((g.src <= p["k"]) & (g.dst <= p["k"])), "src", "dst")
    raise ValueError(f"unknown operator {name!r}")


def _ranked(candidates: str, k: int) -> str:
    return f"""
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_dot_product(e.ev, q.qv)
           / (sqrt(list_dot_product(e.ev, e.ev)) * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM {candidates}),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}"""


def oracle_prelude(name: str) -> list[str]:
    """Statements the oracle runs once before any ``oracle_sql(name, ...)``:
    the MinHash shingles and signatures, shared by every banding."""
    if name != "dedup_minhash":
        return []
    perms = ", ".join(
        f"list_min([(x * {a} + {b}) % {MINHASH_P} for x in bh])"
        for a, b in minhash_params(MINHASH_HASHES)
    )
    return [
        f"""CREATE TEMP TABLE minhash_sh AS
WITH tok AS (SELECT doc_id, {_TOKS.format(t='text')} AS __toks FROM docs_aug)
SELECT doc_id, {_SHINGLES} AS sh FROM tok""",
        f"""CREATE TEMP TABLE minhash_sig AS
WITH bh AS (SELECT doc_id, [{_H52.format(s='s')} for s in sh] AS bh FROM minhash_sh)
SELECT doc_id, [{perms}] AS mh FROM bh""",
    ]


def oracle_sql(name: str, p: dict) -> str:
    """DuckDB query producing the operator's expected output."""
    if name == "dedup_exact":
        return f"""SELECT md5(text) AS digest, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
FROM docs_aug WHERE source IN ({_sources_in(p)}) GROUP BY md5(text)"""
    if name == "dedup_minhash":
        rows = MINHASH_HASHES // p["bands"]
        bucket = " || ',' || ".join(
            f"CAST(mh[{rows}*b+{r + 1}] AS VARCHAR)" for r in range(rows)
        )
        bands = ", ".join(str(b) for b in range(p["bands"]))
        return f"""WITH
buckets AS (SELECT doc_id, b AS band, md5({bucket}) AS bucket
            FROM minhash_sig, UNNEST([{bands}]) AS t(b)),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM buckets a JOIN buckets b
           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
jac AS (SELECT c.id_a, c.id_b,
               CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / len(list_distinct(sa.sh || sb.sh)) AS jaccard
        FROM cand c JOIN minhash_sh sa ON sa.doc_id = c.id_a
                    JOIN minhash_sh sb ON sb.doc_id = c.id_b)
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= {p['threshold']}"""
    if name == "dedup_simhash":
        counts = ",\n  ".join(f"SUM((th >> {b}) & 1) AS bc_{b}" for b in range(32))
        bits = " + ".join(
            f"(CASE WHEN bc_{b} * 2 > n_tok THEN CAST({2**b} AS BIGINT) ELSE 0 END)"
            for b in range(32)
        )
        return f"""WITH
tok AS (SELECT doc_id, unnest({_TOKS.format(t='text')}) AS tok
        FROM docs_aug WHERE source IN ({_sources_in(p)})),
th AS (SELECT doc_id, {_H52.format(s='tok')} AS th FROM tok),
agg AS (SELECT doc_id, COUNT(*) AS n_tok,
  {counts} FROM th GROUP BY doc_id)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash, n_tok AS n_tokens FROM agg"""
    if name == "text_stats":
        ws = r"len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))"
        return f"""SELECT doc_id,
  CAST(length(text) AS DOUBLE) AS n_chars,
  CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS BIGINT) AS n_tokens,
  CAST({ws} AS BIGINT) AS n_words,
  length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / CAST(length(text) AS DOUBLE) AS alpha_ratio,
  length(regexp_replace(text, '[^0-9]', '', 'g')) / CAST(length(text) AS DOUBLE) AS digit_ratio,
  (length(text) - length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
               - length(regexp_replace(text, '[^0-9]', '', 'g'))
               - length(regexp_replace(text, '[^ \t\n]', '', 'g')))
    / CAST(length(text) AS DOUBLE) AS punct_ratio,
  (length(text) - length(regexp_replace(text, '[^ \t\n]', '', 'g')))
    / greatest(CAST({ws} AS DOUBLE), 1.0) AS avg_word_len
FROM docs_aug WHERE source IN ({_sources_in(p)})"""
    if name == "wcoj_triangles":
        return f"""WITH g AS (SELECT src, dst FROM graph WHERE src <= {p['k']} AND dst <= {p['k']})
SELECT g1.src AS a, g1.dst AS b, g2.dst AS c
FROM g g1, g g2, g g3
WHERE g1.dst = g2.src AND g2.dst = g3.src AND g3.dst = g1.src"""
    queries = ", ".join(str(q) for q in p["queries"])
    if name == "cosine_topk":
        return f"""WITH
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev FROM embeddings),
q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id IN ({queries})),
{_ranked("e, q WHERE e.vec_id <> q.query_id", p["k"])}"""
    if name == "lsh_ann":
        def lit(plane):
            return "[" + ",".join(f"{x}.0" for x in plane) + "]"

        bucket = " + ".join(
            f"(CASE WHEN list_dot_product(qe, {lit(hyperplane_int(EMBED_DIM, j))}) >= 0 "
            f"THEN {2**j} ELSE 0 END)"
            for j in range(p["n_planes"])
        )
        return f"""WITH
e0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev FROM embeddings),
eq AS (SELECT vec_id, ev, list_transform(ev, x -> CAST(floor(x * {LSH_QUANT}) AS DOUBLE)) AS qe
       FROM e0),
e AS (SELECT vec_id, ev, {bucket} AS bucket FROM eq),
q AS (SELECT vec_id AS query_id, ev AS qv, bucket FROM e WHERE vec_id IN ({queries})),
{_ranked("e JOIN q ON e.bucket = q.bucket AND e.vec_id <> q.query_id", p["k"])}"""
    raise ValueError(f"unknown operator {name!r}")
