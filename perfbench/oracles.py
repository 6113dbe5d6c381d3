"""Output checks, run outside the timed regions.

Retrieval contexts and ranked lists are recomputed in DuckDB from parquet
dumps, with the SQL twin expressions the contract suite uses
(``functions.sqlgen``), never with the Spark code under test.
"""

from __future__ import annotations

import re

import duckdb
import numpy as np
import pandas as pd

from raptor_rag_spark.functions import sqlgen as G
from raptor_rag_spark.kernels.embedder import DEFAULT_DIM, embed_texts
from raptor_rag_spark.operators.ranking import B, K1, ql_rank_sql, rrf_fuse_sql

_NEWLINES = re.compile(r"\r\n|\r|\n")


# ------------------------------------------------------------------ tree
def tree_signature(tree) -> list[tuple]:
    """Order-insensitive signature of a tree: its sorted
    (node_id, cell_id, token_count) rows."""
    rows = tree.select("node_id", "cell_id", "token_count").collect()
    return sorted((r[0], r[1], r[2]) for r in rows)


def collapsed_knn_sql(nodes: str, queries: str, top_k: int, max_tokens: int) -> str:
    """Twin of the collapsed-tree kNN: cosine distance from
    ``sqlgen.cosine_sim_sql``, rank by (dist, node_id), then the top-k and
    the cumulative token budget."""
    cos = G.cosine_sim_sql("q.q_embedding", "n.embedding", DEFAULT_DIM)
    return f"""
WITH scored AS MATERIALIZED (
  SELECT q.query_id, n.node_id, n.level, n.text, n.token_count, (1.0 - {cos}) AS dist
  FROM {nodes} n, {queries} q),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, node_id) AS rank
  FROM scored),
budget AS (
  SELECT *, CAST(sum(token_count) OVER (PARTITION BY query_id ORDER BY dist, node_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM ranked WHERE rank <= {top_k})
SELECT query_id, node_id, level, rank, text FROM budget
WHERE cum_tokens <= {max_tokens} ORDER BY query_id, rank
"""


def expected_contexts(
    nodes_parquet: str, questions: list[str], top_k: int, max_tokens: int
) -> list[tuple[str, list[tuple[int, int]]]]:
    """(context, [(node_id, level), ...]) per question, from DuckDB over a
    parquet dump of the tree. Query vectors come from the same embedding
    kernel the facade uses, rounded to float32 as the facade does."""
    mat = np.asarray(embed_texts(list(questions)), dtype=np.float32)
    qdf = pd.DataFrame(
        {"query_id": range(len(questions)), "q_embedding": [[float(v) for v in row] for row in mat]}
    )
    con = duckdb.connect()
    try:
        con.register("qdf", qdf)
        sql = collapsed_knn_sql(f"read_parquet('{nodes_parquet}/*.parquet')", "qdf", top_k, max_tokens)
        rows = con.execute(sql).fetchall()
    finally:
        con.close()
    out: list[tuple[list[str], list[tuple[int, int]]]] = [([], []) for _ in questions]
    for qid, node_id, level, _rank, text in rows:
        out[qid][0].append(_NEWLINES.sub(" ", text))
        out[qid][1].append((node_id, level))
    return [("\n\n".join(texts) + "\n\n", layers) for texts, layers in out]


# ---------------------------------------------------------------- search
def bm25_sql(queries: list[tuple[int, str]], top_k: int, ratio: tuple[int, int] | None) -> str:
    """BM25 twin over a ``documents`` view: the contract suite's BM25 SQL
    with the query list and the relative df cap as parameters."""
    ws = G.words_sql("text")
    qvals = ", ".join(f"({i}, '{t}')" for i, t in queries)
    contrib = (
        f"{G.ln_sql('idf_arg')} * ((tf * {K1 + 1.0!r}) / "
        f"(tf + {K1!r} * ({1.0 - B!r} + {B!r} * (dl / avgdl))))"
    )
    cap = "" if ratio is None else f"WHERE df * {ratio[1]} <= n_long * {ratio[0]}"
    return f"""
WITH words AS (SELECT doc_id, {ws} AS ws FROM documents),
postings AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(ws) AS term FROM words) GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl_l FROM postings GROUP BY doc_id),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, CAST(count(*) AS BIGINT) AS n_long,
         CAST(sum(CAST(dl_l AS DECIMAL(28,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM dl),
dfreq AS (
  SELECT term, df FROM (SELECT term, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY term), stats
  {cap}),
qterms AS (
  SELECT DISTINCT query_id, unnest({G.words_sql('qtext')}) AS term
  FROM (VALUES {qvals}) q(query_id, qtext)),
matched AS MATERIALIZED (
  SELECT q.query_id, p.doc_id, CAST(p.tf AS DOUBLE) AS tf, CAST(l.dl_l AS DOUBLE) AS dl,
         s.n_docs, s.avgdl,
         ((s.n_docs - CAST(d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5) + 1.0) AS idf_arg
  FROM postings p
  JOIN qterms q USING (term) JOIN dfreq d USING (term)
  CROSS JOIN stats s JOIN dl l ON p.doc_id = l.doc_id),
scored AS (
  SELECT query_id, doc_id,
         CAST(sum(CAST({contrib} AS DECIMAL(28,15))) AS DOUBLE) AS score
  FROM matched GROUP BY query_id, doc_id)
SELECT query_id, doc_id, score, rank FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM scored) WHERE rank <= {top_k}
"""


def rounded(rows) -> list[tuple]:
    """Sorted (query_id, doc_id, score, rank) rows with scores rounded to 6
    decimals, the float convention of the contract suite's oracle
    comparison (scripts/check_contract.py)."""
    return sorted((q, d, round(s, 6), r) for q, d, s, r in rows)


def expected_rankings(
    docs_dirs: list[str], batteries: list[tuple[list[tuple[int, str]], tuple[int, int] | None]], top_k: int
) -> list[dict[str, list[tuple]]]:
    """For each (queries, df cap) pair: the sorted, rounded
    (query_id, doc_id, score, rank) rows of the BM25 and QL twins and of the
    RRF twin fused over those two results, from the corpus parquet."""
    con = duckdb.connect()
    try:
        globs = ", ".join(f"'{d}/*.parquet'" for d in docs_dirs)
        con.execute(f"CREATE TABLE documents AS SELECT doc_id, text FROM read_parquet([{globs}])")
        out = []
        for queries, ratio in batteries:
            con.execute(f"CREATE OR REPLACE TEMP TABLE bm25 AS {bm25_sql(queries, top_k, ratio)}")
            q = ql_rank_sql(queries, docs_sql="SELECT doc_id, text FROM documents", top_k=top_k)
            con.execute(f"CREATE OR REPLACE TEMP TABLE ql AS {q}")
            rrf = rrf_fuse_sql("SELECT * FROM bm25", "SELECT * FROM ql", top_k=top_k)
            out.append({
                "bm25": rounded(con.execute("SELECT * FROM bm25").fetchall()),
                "ql": rounded(con.execute("SELECT * FROM ql").fetchall()),
                "rrf": rounded(con.execute(rrf).fetchall()),
            })
        return out
    finally:
        con.close()


def rows_of(df) -> list[tuple]:
    return rounded(df.select("query_id", "doc_id", "score", "rank").collect())
