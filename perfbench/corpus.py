"""``corpus`` workload: closed-loop batch training-data preparation.

Seeded documents with a planted near-duplicate rate go through
``corpus_prepare`` (quality filter, MinHash-LSH dedup clusters, PII scrub,
token packing); seeded embeddings with planted semantic duplicates go
through ``semantic_dedup``. A job ends when both results are written as
parquet; both are checked against their DuckDB twins.

Why: the training-data operators are about half of the package and no APM
workload calls them; without this workload those layers go unmeasured.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

import gen
from check import DuckOracle

N_DOCS = 1_000
N_VECS = 2_000


def prepare(seed: int, cache: str) -> dict:
    """Documents, embeddings and their expected outputs for ``seed``."""
    from apmbackend_spark.operators.prepare import corpus_prepare_oracle_sql
    from apmbackend_spark.operators.similarity import semantic_dedup_oracle_sql

    d = os.path.join(cache, f"corpus-{seed}-{N_DOCS}-{N_VECS}")
    if not os.path.exists(os.path.join(d, "expected_sem.parquet")):
        os.makedirs(d, exist_ok=True)
        pq.write_table(gen.documents_table(seed, N_DOCS), os.path.join(d, "documents.parquet"))
        pq.write_table(gen.embeddings_table(seed, N_VECS), os.path.join(d, "embeddings.parquet"))
        o = DuckOracle(
            {t: os.path.join(d, f"{t}.parquet") for t in ("documents", "embeddings")},
            threads=os.cpu_count(),
        )
        o.con.execute(f"COPY ({corpus_prepare_oracle_sql()}) TO '{d}/expected_prep.parquet' (FORMAT parquet)")
        o.con.execute(f"COPY ({semantic_dedup_oracle_sql()}) TO '{d}/expected_sem.parquet' (FORMAT parquet)")
    return {"dir": d, "n_records": N_DOCS + N_VECS}


def _inputs(spark, inp: dict):
    from apmbackend_spark.sources.loaders import spread

    d = inp["dir"]
    return (
        spread(spark.read.parquet(os.path.join(d, "documents.parquet"))),
        spread(spark.read.parquet(os.path.join(d, "embeddings.parquet"))),
    )


def pipeline(spark, inp: dict, out_dir: str, tr) -> dict:
    """``corpus_prepare`` and ``semantic_dedup`` with a span around each;
    returns the written output paths and the similarity frame. When
    tracing, the layer calls ``corpus_prepare`` makes (quality filter and
    PII scrub, dedup clusters, token packing) get spans of their own."""
    from apmbackend_spark.operators import prepare
    from apmbackend_spark.operators.similarity import semantic_dedup

    out = {k: os.path.join(out_dir, k) for k in ("prep", "sem")}
    docs, embs = (df.localCheckpoint() for df in _inputs(spark, inp))
    layers = {
        "corpus_filter": "textstats",
        "corpus_scrub": "textstats",
        "dedup_clusters": "dedup",
        "token_pack": "packing",
    }
    with tr.span("corpus"):
        with tr.span("prepare"), tr.split(prepare, layers):
            prepare.corpus_prepare(docs).write.mode("overwrite").parquet(out["prep"])
        with tr.span("similarity"):
            sem = semantic_dedup(embs).localCheckpoint()
        sem.write.mode("overwrite").parquet(out["sem"])
    return {"out": out, "docs": docs, "sem": sem}


def oracle(inp: dict) -> DuckOracle:
    d = inp["dir"]
    return DuckOracle({k: f"{d}/expected_{k}.parquet" for k in ("prep", "sem")})


def check(o: DuckOracle, out: dict[str, str]) -> list[str]:
    return o.diff("prep", out["prep"]) + o.diff("sem", out["sem"])


def counts(spark, inp: dict, res: dict, tr) -> dict:
    """Per-layer pair counts of a traced job."""
    from pyspark.sql import functions as F

    from apmbackend_spark.operators.dedup import minhash_lsh_pairs

    sem = res["sem"]
    sizes = sem.groupBy("list_id").count()
    return {
        "dedup.candidate_pairs": (minhash_lsh_pairs(res["docs"]).count(), "count"),
        "dedup.dup_pairs": (tr.outputs["dedup"].where("doc_id != cluster_id").count(), "count"),
        "similarity.pairs_scored": (sizes.select(F.sum(F.col("count") * (F.col("count") - 1))).first()[0], "count"),
        "similarity.pruned": (sem.where("pruned").count(), "count"),
    }
