"""Inputs and building blocks of the benchmark's runs.

Every call goes through the public API of ``baguetter_spark``.  The traced
run composes the base build from the indexer's public stage functions so
that each stage gets its own span; ``digest_guard`` proves that the
composition produces the same postings as ``build_index``.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd

from baguetter_spark.config import SparseIndexConfig
from baguetter_spark.fixtures import HOT_TERMS, NATURAL_WORDS, gen_queries, gen_transcripts

N_TURNS = 8_000  # base table
VOCAB = 1_000
DELTA_FRAC = 0.25  # delta turns per base turn
REINGEST_FRAC = 0.2  # share of the delta that replaces existing base turns
BATCH = 100  # queries per hot batch call
COLD_BATCH = 25  # queries per cold batch call (the first of the batch)
SINGLES = 16  # distinct single-query calls the client cycles through
TOP_K = 10
COLD_BLOCKS = 16  # doc-range blocks of the selective workload's index

# Workloads differ only in what the cold search's posting scan can prune.
WORKLOADS = {
    # one doc-range block and broad queries (hot and natural words included):
    # the queried term ids span the whole stored posting table, so the
    # term-id filter prunes no row group
    "broad": {"blocks": 1, "selective": False},
    # 16 doc-range blocks and rare-term queries: the term-id filter skips the
    # row groups of the stored posting table that hold no queried term
    "selective": {"blocks": COLD_BLOCKS, "selective": True},
}


@dataclass
class Inputs:
    base: pd.DataFrame  # key-sorted transcripts
    delta: pd.DataFrame  # unsorted; part of it re-ingests base keys
    queries: dict[str, str]  # batch
    singles: dict[str, str]
    config: SparseIndexConfig


def _rare_queries(n: int, seed: int) -> dict[str, str]:
    """Queries of rare terms only: the Zipf tail of the fixture vocabulary."""
    common = set(HOT_TERMS) | set(NATURAL_WORDS)
    rare_from = VOCAB // 4
    out: dict[str, str] = {}
    k = 0
    while len(out) < n:
        pdf = gen_queries(n, seed=seed + 7919 * k, vocab_size=VOCAB, include_oov=False)
        for text in pdf["text"]:
            toks = [
                t for t in text.split()
                if t not in common and int(t[4:]) >= rare_from
            ]
            if toks and len(out) < n:
                out[f"q{len(out):05d}"] = " ".join(toks[:3])
        k += 1
    return out


def make_inputs(workload: str, seed: int) -> Inputs:
    spec = WORKLOADS[workload]
    base = gen_transcripts(N_TURNS, seed=seed, vocab_size=VOCAB)
    base = base.sort_values(["conv_id", "turn_idx"], ignore_index=True)

    n_delta = int(N_TURNS * DELTA_FRAC)
    delta = gen_transcripts(n_delta, seed=seed + 1, vocab_size=VOCAB)
    delta["conv_id"] = delta["conv_id"].str.replace("conv-", "delta-", regex=False)
    rng = np.random.default_rng(seed + 2)
    n_re = int(n_delta * REINGEST_FRAC)
    replaced = rng.choice(N_TURNS, size=n_re, replace=False)
    delta.loc[: n_re - 1, "conv_id"] = base["conv_id"].to_numpy()[replaced]
    delta.loc[: n_re - 1, "turn_idx"] = base["turn_idx"].to_numpy()[replaced]
    delta = delta.sample(frac=1.0, random_state=seed).reset_index(drop=True)

    if spec["selective"]:
        queries = _rare_queries(BATCH, seed + 3)
        singles = _rare_queries(SINGLES, seed + 4)
    else:
        queries = dict(gen_queries(BATCH, seed=seed + 3, vocab_size=VOCAB)[["query_id", "text"]].values)
        singles = dict(gen_queries(SINGLES, seed=seed + 4, vocab_size=VOCAB)[["query_id", "text"]].values)
    config = SparseIndexConfig()
    if spec["blocks"] > 1:
        config.block_doc_range = -(-N_TURNS // spec["blocks"])
    return Inputs(base, delta, queries, singles, config)


def table(spark, pdf: pd.DataFrame):
    """A Spark table over ``pdf`` whose partitions hold contiguous row
    ranges in order.  The local checkpoint turns the in-memory relation into
    a scan, as a stored table would be; on the relation itself the optimizer
    evaluates ``spark_partition_id()`` once on the driver, which the
    presorted build's layout check cannot use."""
    return spark.createDataFrame(pdf).localCheckpoint()


def doc_keys(df: pd.DataFrame) -> list[str]:
    return [f"{c}:{t}" for c, t in zip(df["conv_id"], df["turn_idx"])]


def updated_corpus(inp: Inputs) -> tuple[list[str], list[str]]:
    """Keys and texts of the corpus after the update: the base turns the
    delta does not replace, then the delta in key order."""
    delta = inp.delta.sort_values(["conv_id", "turn_idx"])
    dkeys = doc_keys(delta)
    dset = set(dkeys)
    bkeys = doc_keys(inp.base)
    keep = [i for i, k in enumerate(bkeys) if k not in dset]
    keys = [bkeys[i] for i in keep] + dkeys
    texts = inp.base["text"].to_numpy()[keep].tolist() + delta["text"].tolist()
    return keys, texts


def text_bytes(texts) -> int:
    return sum(len(t.encode("utf-8")) for t in texts)


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def force(index) -> None:
    """Materialize an index's lazily persisted tables."""
    index.postings.count()
    index.doc_map.count()


def persisted_rdds(spark) -> dict[int, int]:
    """Bytes in memory of each persisted RDD of the session, by RDD id.
    An unpersisted RDD leaves this list at once, while its blocks may still
    be in the middle of being freed."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {int(info.id()): int(info.memSize()) for info in infos}


def stored_rows(path: Path) -> int:
    """Rows of a saved parquet table, from the files' footers."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in sorted(path.glob("*.parquet")))


def release(*indexes) -> None:
    from baguetter_spark.merge import release_index

    for index in indexes:
        release_index(index)


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


# --------------------------------------------------------------- traced build
def composed_build(spark, transcripts, config, span, *, presorted: bool, names: dict):
    """``build_index`` composed from its public stage functions, one span per
    stage.  ``names`` maps the stages keys/layout, tf, vocab, impacts and
    doc_map to span names.  Each stage is materialized inside its span so
    the work lands in it.  ``digest_guard`` checks the result against
    ``build_index``."""
    from pyspark.sql import functions as F

    from baguetter_spark.operators.indexer import (
        BM25Index,
        assemble_posting_blocks,
        docs_from_transcripts,
        hashed_term_stats,
        impacts_flat,
        local_term_frequencies,
        vocab_scores,
    )
    from baguetter_spark.operators.presorted import (
        partition_layout,
        presorted_keys,
        presorted_local_tf,
    )
    from baguetter_spark.operators.zipindex import zip_with_index

    pins: list = []
    if presorted:
        with span(names["keys"]):
            layout = partition_layout(transcripts)
        if layout is None:
            raise RuntimeError("base table is not partition-ordered by (conv_id, turn_idx)")
        n_docs = layout.n_rows
        keys = presorted_keys(transcripts, layout)
        with span(names["tf"]):
            tf = presorted_local_tf(transcripts, layout, config).persist()
            tf.count()
    else:
        with span(names["keys"]):
            keys_frame = docs_from_transcripts(transcripts).select("conv_id", "turn_idx", "doc_id")
            keys_full, kstats = zip_with_index(
                keys_frame, ["conv_id", "turn_idx"], "doc_idx", extra_sums={}, cleanup=pins
            )
        n_docs = kstats["count"]
        keys = keys_full.select("doc_idx", "doc_id")
        with span(names["tf"]):
            docs = (
                docs_from_transcripts(transcripts)
                .select("conv_id", "turn_idx", "text")
                .join(
                    keys_full.select("conv_id", "turn_idx", "doc_idx").hint("shuffle_hash"),
                    ["conv_id", "turn_idx"],
                )
                .select("doc_idx", "text")
            )
            tf = local_term_frequencies(docs, config).persist()
            tf.count()

    with span(names["vocab"]):
        term_stats = hashed_term_stats(tf).persist()
        pins += [tf, term_stats]
        vocab_base, vstats = zip_with_index(
            term_stats,
            ["term"],
            "term_id",
            extra_sums={"total_len": "ttf", "total_postings": "df", "hash_collisions": "coll"},
            cleanup=pins,
        )
        if vstats["hash_collisions"]:
            raise RuntimeError("two terms share a 64-bit hash; build_index refuses this input")
        avg_doc_len = float(vstats["total_len"]) / n_docs if n_docs else 0.0
        vocab = vocab_scores(
            vocab_base.select("term_id", "term_hash", "term", "df"), n_docs, avg_doc_len, config
        ).cache()
        vocab.count()

    with span(names["impacts"]):
        flat = impacts_flat(tf, vocab, n_docs, avg_doc_len, config)
        postings = assemble_posting_blocks(flat, config).persist()
        postings.count()

    with span(names["doc_map"]):
        doc_lens = tf.groupBy("doc_idx").agg(F.sum("tf").cast("int").alias("doc_len"))
        doc_map = keys.join(doc_lens, "doc_idx", "left").fillna(0, subset=["doc_len"]).persist()
        doc_map.count()

    return BM25Index(
        doc_map=doc_map,
        vocab=vocab,
        postings=postings,
        n_docs=n_docs,
        avg_doc_len=avg_doc_len,
        total_postings=int(vstats["total_postings"]),
        config=config,
        caches=tuple(pins),
    )


BASE_SPANS = {
    "keys": "presorted.layout",
    "tf": "indexer.tokenize_tf",
    "vocab": "indexer.vocab",
    "impacts": "indexer.impacts_blocks",
    "doc_map": "indexer.doc_map",
}
DELTA_SPANS = {
    "keys": "zipindex.docid",
    "tf": "delta.indexer",
    "vocab": "delta.indexer",
    "impacts": "delta.indexer",
    "doc_map": "delta.indexer",
}


def _digest(index) -> list:
    from baguetter_spark.gate import postings_digest_of

    return sorted(tuple(r) for r in postings_digest_of(index).collect())


def digest_guard(ref, composed) -> bool:
    """True iff the composed build has the postings digest, n_docs,
    total_postings and avg_doc_len of ``build_index`` (``ref``) on the same
    input."""
    same_stats = (ref.n_docs, ref.total_postings, ref.avg_doc_len) == (
        composed.n_docs,
        composed.total_postings,
        composed.avg_doc_len,
    )
    return same_stats and _digest(ref) == _digest(composed)


def composed_update(spark, old, seg, config, span):
    """``BM25SparkIndex.add_transcripts`` after its segment build, split into
    the removal of re-ingested keys and the merge.  ``old`` stays usable."""
    from baguetter_spark.merge import merge_indexes, remove_docs, truncate_lineage

    with span("merge.remove"):
        overlap = seg.doc_map.select("doc_id").join(
            old.doc_map.select("doc_id"), "doc_id", "left_semi"
        )
        keys = [r["doc_id"] for r in overlap.collect()]
        base = remove_docs(spark, old, keys) if keys else old
        force(base)
    with span("merge.merge"):
        merged = truncate_lineage(merge_indexes(spark, [base, seg], config))
    if base is not old:
        release(base)
    release(seg)
    return merged


def decode_postings_per_s(index) -> float:
    """Driver-side decode rate of the index's posting blocks (one core)."""
    from baguetter_spark.compress import decode_doc_ids, decode_impacts

    pdf = index.postings.select("n_postings", "doc_ids_delta", "impacts_f32").toPandas()
    t0 = time.perf_counter()
    total = 0
    for n, ids, imp in zip(pdf["n_postings"], pdf["doc_ids_delta"], pdf["impacts_f32"]):
        decode_doc_ids(ids, int(n))
        decode_impacts(imp)
        total += int(n)
    return total / (time.perf_counter() - t0)


def preprocess_turns_per_s(texts: list[str], config) -> float:
    """Driver-side ``process_series`` rate on a fixed sample (one core)."""
    from baguetter_spark.functions.preprocess import process_series

    sample = pd.Series(texts[:2_000])
    walls = []
    for _ in range(3):
        _, wall = timed(process_series, sample, config.preprocessor)
        walls.append(wall)
    return len(sample) / float(np.median(walls))
