"""The LLM-data half of ``read_mix``: ``curate_corpus`` over a seeded
corpus, and IVF-PQ retrieval of a query batch with an MMR re-rank."""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
from pyspark.sql import functions as F

from kda_flink_app_timestream_spark.functions.text import (
    bpe_ish_token_count,
    language_id,
    quality_features,
    tokens,
)
from kda_flink_app_timestream_spark.operators.curation import curate_corpus
from kda_flink_app_timestream_spark.operators.dedup import (
    connected_components,
    lsh_candidate_pairs,
    minhash_near_dup_pairs,
    minhash_signature,
)
from kda_flink_app_timestream_spark.operators.ivfpq import (
    ivfpq_refined_encode,
    ivfpq_refined_search,
    ivfpq_refined_topk,
    ivfpq_refined_train,
)
from kda_flink_app_timestream_spark.operators.mmr import MMR_K, mmr_over_candidates
from kda_flink_app_timestream_spark.plans import REGISTRY, load_all_plans
from kda_flink_app_timestream_spark.plans.curation import (
    CURATE_MIN_QUALITY,
    CURATE_NEAR_DUP_THRESHOLD,
)
from kda_flink_app_timestream_spark.plans.similarity import (
    MMR_CAND_NPROBE,
    MMR_CAND_SHORTLIST,
    MMR_N_CAND,
)
from kda_flink_app_timestream_spark.session import release_deferred
from kda_flink_app_timestream_spark.sources.batch import load_table

import gen
from common import median, noop, oracle_diff, spark_jobs, write_for_diff

N_DOCS = 800
N_VECTORS = 600
N_QUERIES = 30
# recall@MMR_N_CAND of the registered retrieval settings on this data is
# about 0.9; a change may not buy speed below this floor
RECALL_FLOOR = 0.8


def prepare(run) -> str:
    d = run.data
    gen.write_parquet(gen.corpus(run.seed, N_DOCS), os.path.join(d, "documents.parquet"))
    corpus, queries = gen.embeddings(run.seed, N_VECTORS, N_QUERIES)
    gen.write_parquet(corpus, os.path.join(d, "embeddings.parquet"))
    gen.write_parquet(queries, os.path.join(d, "queries.parquet"))
    return d


def register(spark, d: str) -> None:
    for t in ("documents", "embeddings"):
        load_table(spark, d, t).schema
    spark.read.parquet(os.path.join(d, "queries.parquet")).schema


def _inputs(run, d: str):
    spark = run.spark
    return (
        load_table(spark, d, "documents"),
        load_table(spark, d, "embeddings"),
        spark.read.parquet(os.path.join(d, "queries.parquet")),
    )


def _curate(docs):
    return curate_corpus(
        docs, min_quality=CURATE_MIN_QUALITY, near_dup_threshold=CURATE_NEAR_DUP_THRESHOLD
    )


def _candidates(emb, queries):
    return ivfpq_refined_topk(
        emb, queries, k=MMR_N_CAND, nprobe=MMR_CAND_NPROBE, shortlist=MMR_CAND_SHORTLIST
    )


def _retrieve(emb, queries):
    ann = _candidates(emb, queries)
    return mmr_over_candidates(
        emb, queries, ann.select("query_id", F.col("neighbor_id").alias("cand_id"))
    )


def _recall(d: str, got: dict[int, set[int]]) -> float:
    """Recall of the retrieved neighbours against exact cosine top-k."""
    import pyarrow.parquet as pq

    c = pq.read_table(os.path.join(d, "embeddings.parquet"))
    q = pq.read_table(os.path.join(d, "queries.parquet"))
    cv = np.array(c.column("embedding").to_pylist(), dtype=np.float64)
    qv = np.array(q.column("embedding").to_pylist(), dtype=np.float64)
    cv /= np.linalg.norm(cv, axis=1, keepdims=True)
    qv /= np.linalg.norm(qv, axis=1, keepdims=True)
    top = np.argsort(-(qv @ cv.T), axis=1)[:, :MMR_N_CAND]
    ids = c.column("vec_id").to_numpy()
    hits = sum(
        len(got.get(int(qid), set()) & set(ids[row].tolist()))
        for qid, row in zip(q.column("vec_id").to_pylist(), top)
    )
    return hits / (len(top) * MMR_N_CAND)


def oracle(d: str):
    """The ``curate_corpus`` DuckDB oracle over the generated documents,
    as table ``oracle`` of the returned connection. It is slow (a recursive
    CTE), so it runs with the inputs, before the engine starts, and takes
    no core from the engine's passes."""
    load_all_plans()
    con = duckdb.connect(config={"threads": os.cpu_count() or 1})
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    con.execute(f"CREATE TABLE oracle AS {REGISTRY['curate_corpus'].oracle}")
    return con


def check(run, d: str, con) -> tuple[list[str], float]:
    """Curation against the oracle table of ``con`` (see ``oracle``);
    retrieval recall against exact top-k; MMR picks. Returns (problems,
    recall)."""
    docs, emb, queries = _inputs(run, d)
    # curation and retrieval build no catalog query (whose build would
    # release the other's cached frames), so they run side by side
    path = run.path("curate")
    with ThreadPoolExecutor(max_workers=1) as pool:
        curated = pool.submit(write_for_diff, _curate(docs), path)
        problems, recall = _check_retrieval(d, emb, queries)
        columns = curated.result()
    problems += oracle_diff(path, columns, con, "SELECT * FROM oracle", "curate_corpus")
    con.close()
    release_deferred()
    return problems, recall


def _check_retrieval(d: str, emb, queries) -> tuple[list[str], float]:
    ann = _candidates(emb, queries).cache()
    got: dict[int, set[int]] = {}
    for qid, nid in ann.select("query_id", "neighbor_id").collect():
        got.setdefault(qid, set()).add(nid)
    recall = _recall(d, got)
    problems = []
    if recall < RECALL_FLOOR:
        problems.append(f"retrieval recall@{MMR_N_CAND} {recall:.3f} < {RECALL_FLOOR}")
    cand_ids = ann.select("query_id", F.col("neighbor_id").alias("cand_id"))
    picks: dict[int, list[int]] = {}
    for row in mmr_over_candidates(emb, queries, cand_ids).collect():
        picks.setdefault(row["query_id"], []).append(row["neighbor_id"])
    for qid, cands in got.items():
        p = picks.get(qid, [])
        if len(p) != min(MMR_K, len(cands)) or len(set(p)) != len(p) or not set(p) <= cands:
            problems.append(f"MMR picks for query {qid} are not {MMR_K} distinct candidates")
    ann.unpersist()
    return problems, recall


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def _staged_layers(run, docs, emb, queries) -> dict:
    """Time each layer's function on the cached output of the previous."""
    spark = run.spark
    out = {}
    text = F.col("text")
    feats = quality_features(text)
    gated = docs.select(
        "doc_id", "text", language_id(text).alias("lang"), feats["n_tokens"].alias("n_tokens"),
        bpe_ish_token_count(text).alias("bpe_tokens"), feats["quality_score"].alias("quality_score"),
    ).filter((F.col("lang") == "en") & (F.col("quality_score") >= CURATE_MIN_QUALITY))
    out["text.gate_s"] = _timed(lambda: noop(gated))
    gated = gated.cache()
    n_gated = gated.count()
    out["text.gate_pass_ratio"] = n_gated / N_DOCS
    exact = gated.groupBy(F.xxhash64("text").alias("fp"), "text").agg(
        F.min(F.struct("doc_id", "lang", "n_tokens", "bpe_tokens", "quality_score")).alias("w")
    ).select("text", "w.*")
    out["curation.exact_collapse_s"] = _timed(lambda: noop(exact))
    exact = exact.cache()
    out["curation.exact_dup_ratio"] = 1 - exact.count() / n_gated
    sig_in = exact.select("doc_id", "text").filter(F.size(tokens(F.col("text"))) >= 3)
    pairs = minhash_near_dup_pairs(sig_in, threshold=CURATE_NEAR_DUP_THRESHOLD)
    out["dedup.minhash_pairs_s"] = _timed(lambda: noop(pairs))
    pairs = pairs.cache()
    n_pairs = pairs.count()
    cand = lsh_candidate_pairs(minhash_signature(sig_in)).count()
    out["dedup.candidate_pairs"] = cand
    out["dedup.candidate_precision"] = n_pairs / cand if cand else 0.0
    with run.py4j.paused():
        jobs = spark_jobs(spark)
    out["dedup.connected_components_s"] = _timed(
        lambda: noop(connected_components(pairs, src="doc_a", dst="doc_b"))
    )
    with run.py4j.paused():
        out["dedup.cc_spark_jobs"] = spark_jobs(spark) - jobs
    for df in (gated, exact, pairs):
        df.unpersist()

    trained = {}
    out["ivfpq.train_s"] = _timed(lambda: trained.update(m=ivfpq_refined_train(emb)))
    coarse, cbs = trained["m"]
    encoded = ivfpq_refined_encode(emb, coarse, cbs).cache()
    out["ivfpq.encode_s"] = _timed(encoded.count)
    ann = ivfpq_refined_search(
        encoded, emb, queries, coarse, cbs, MMR_N_CAND,
        nprobe=MMR_CAND_NPROBE, shortlist=MMR_CAND_SHORTLIST,
    ).cache()
    out["ivfpq.search_s"] = _timed(ann.count)
    cand_ids = ann.select("query_id", F.col("neighbor_id").alias("cand_id"))
    out["mmr.rerank_s"] = _timed(lambda: noop(mmr_over_candidates(emb, queries, cand_ids)))
    for df in (encoded, ann):
        df.unpersist()
    release_deferred()
    return out


def one_pass(run, d: str) -> list[tuple[str, float]]:
    """One curation job and one retrieval batch, each through a noop write."""
    docs, emb, queries = _inputs(run, d)
    with run.tracer.span("curate_corpus"):
        c = _timed(lambda: noop(_curate(docs)))
    with run.tracer.span("retrieve"):
        r = _timed(lambda: noop(_retrieve(emb, queries)))
    release_deferred()
    return [("curate_corpus", c), ("retrieve", r)]


def layers(run, d: str, times: dict[str, list[float]], recall: float) -> dict:
    out = {
        "curate.docs_per_s": N_DOCS / median(times["curate_corpus"]),
        "retrieve.queries_per_s": N_QUERIES / median(times["retrieve"]),
        "retrieve.recall_at_k": recall,
    }
    out.update(_staged_layers(run, *_inputs(run, d)))
    return out
