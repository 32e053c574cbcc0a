"""The measured run and the traced run of one workload.

Measured run (``--trace 0``): build the workload's index once to warm the
process (JIT, code generation, Python workers), then SETUP_REPS more times
(the set-up; the last index is kept), save it, warm each call shape once,
then one closed-loop client runs the CYCLE of calls, and repeats it until
``--seconds`` have passed.  Every result is checked against the reference
answers; a wrong result is a failed operation.

Traced run (``--trace 1``): every layer once, each call in a span, with
Spark's event log on; ``fold_trace`` turns spans and log into the per-layer
metrics.
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path

import pandas as pd

import expected as ex
import pipeline as pl
from pipeline import TOP_K, WORKLOADS  # noqa: F401  (WORKLOADS is read by run.py)
from spans import SPAN_FIELDS, Tracer, fold_event_log, tail_percentile

SETUP_REPS = 2  # warm set-ups after the cold one; setup_s is their median (mean of two)
CACHE = Path(__file__).resolve().parent / ".work" / "expected"
# "after_cold" is a single query like "query1".  The first call after a cold
# call is 0.3-0.9 s slower than the next one (a shape switch), by an amount
# that varies from run to run, so that call is checked and reported but kept
# out of query1_s_p50.
CYCLE = ("cold", "after_cold", "query1", "parity", "query1")

SPANS = (
    "presorted.layout",
    "indexer.tokenize_tf",
    "indexer.vocab",
    "indexer.impacts_blocks",
    "indexer.doc_map",
    "zipindex.docid",
    "delta.indexer",
    "merge.remove",
    "merge.merge",
    "io.save",
    "bmx.build",
    "search.front_end",
    "search.parity",
    "search.fast",
    "search.pruned",
    "bmx.search",
    "io.load",
    "search.blockmax",
)


# ----------------------------------------------------------- expected answers
def reference_answers(workload: str, seed: int, inp: pl.Inputs) -> dict:
    """Reference answers for this (workload, seed, size), cached on disk."""
    sizes = (pl.N_TURNS, pl.VOCAB, pl.DELTA_FRAC, pl.REINGEST_FRAC, pl.BATCH, pl.SINGLES, TOP_K)
    key = "-".join(map(str, (workload, seed, *sizes)))

    def compute() -> dict:
        from baguetter_spark.functions.preprocess import process_series

        pre = inp.config.preprocessor
        keys = pl.doc_keys(inp.base)
        toks = process_series(inp.base["text"], pre).tolist()
        bm25 = ex.reference_bm25(keys, toks, inp.config)
        ukeys, utexts = pl.updated_corpus(inp)
        updated = ex.reference_bm25(ukeys, process_series(pd.Series(utexts), pre).tolist(), inp.config)
        singles = {f"s{qid}": t for qid, t in inp.singles.items()}
        return {
            "base": {"n_docs": len(keys), "total_postings": int(len(bm25.index.doc_indices))},
            "updated": {
                "n_docs": len(ukeys),
                "total_postings": int(len(updated.index.doc_indices)),
            },
            "bm25": ex.bm25_answers(bm25, {**inp.queries, **singles}, TOP_K),
            "bmx": ex.bmx_answers(keys, toks, inp.config, inp.queries, TOP_K),
        }

    return ex.cached(CACHE / f"{key}.json", compute)


class Checker:
    """Counts attempted and failed operations."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)

    def stats(self, what, index, want: dict) -> None:
        self.record(
            what,
            index.n_docs == want["n_docs"] and index.total_postings == want["total_postings"],
        )

    def results(self, what, rows, want: dict, qids, *, exact: bool) -> None:
        got = ex.by_query(rows)
        ref = {q: want[q] for q in qids}
        check = ex.exact_mismatches if exact else ex.rank_mismatches
        self.record(what, check(got, ref, TOP_K) == 0)


# --------------------------------------------------------------- measured run
def _batch_frame(spark, inp: pl.Inputs):
    return spark.createDataFrame(
        pd.DataFrame({"query_id": list(inp.queries), "text": list(inp.queries.values())})
    )


def _single_frame(spark, inp: pl.Inputs, i: int):
    """The i-th single query (cycling), as ``(query_id, frame)``."""
    qid, text = list(inp.singles.items())[i % len(inp.singles)]
    return f"s{qid}", spark.createDataFrame(
        pd.DataFrame({"query_id": [f"s{qid}"], "text": [text]})
    )


def _cold_ids(inp: pl.Inputs) -> list[str]:
    return list(inp.queries)[: pl.COLD_BATCH]


def _cold_frame(spark, inp: pl.Inputs):
    ids = _cold_ids(inp)
    return spark.createDataFrame(
        pd.DataFrame({"query_id": ids, "text": [inp.queries[q] for q in ids]})
    )


def _warm_up(spark, inp: pl.Inputs, index, path: Path, shapes) -> None:
    """Each call shape once, the batches on the cold batch's queries: code
    generation and Python workers for the shape are ready before anything
    is timed."""
    qdf = _cold_frame(spark, inp)
    for shape in shapes:
        _serve(spark, index, path, shape, qdf)


def _serve(spark, index, path, call: str, qdf):
    """One search call of the client; returns the collected rows."""
    from baguetter_spark.io import load_index
    from baguetter_spark.operators.search import score_queries

    if call == "cold":
        return score_queries(
            load_index(spark, str(path)), qdf, top_k=TOP_K, pruned="blockmax"
        ).collect()
    mode = {"query1": {}, "parity": {}, "fast": {"parity": False}, "pruned": {"pruned": True}}
    return score_queries(index, qdf, top_k=TOP_K, **mode[call]).collect()


def _set_up(spark, table, config):
    """The workload's set-up: the index of the key-sorted base table, built
    and persisted.  Returns the index and the wall time."""
    from baguetter_spark.operators.indexer import build_index

    t0 = time.perf_counter()
    index = build_index(spark, table, config, assume_sorted=True)
    pl.force(index)
    return index, time.perf_counter() - t0


def measure(spark, workload: str, seed: int, seconds: float, run_dir: Path) -> dict:
    t_run = time.perf_counter()
    inp = pl.make_inputs(workload, seed)
    want = reference_answers(workload, seed, inp)
    t_ref = time.perf_counter()
    chk = Checker()

    # The base table is made once, outside setup_s.  The first build warms
    # the process (JIT, code generation, Python workers) and is left out of
    # setup_s, the median of the warm builds after it.  index_mem_mb is the
    # memory of the RDDs the last build persisted.  Then the index is saved,
    # and each call shape runs once on a few queries, outside every metric.
    from baguetter_spark.io import save_index

    base_df = pl.table(spark, inp.base)
    index, cold_build = _set_up(spark, base_df, inp.config)
    chk.stats("cold build", index, want["base"])
    setup = []
    for _ in range(SETUP_REPS):
        pl.release(index)
        before = pl.persisted_rdds(spark)
        index, wall = _set_up(spark, base_df, inp.config)
        setup.append(wall)
        chk.stats("set-up build", index, want["base"])
    mem_mb = sum(
        size for rdd, size in pl.persisted_rdds(spark).items() if rdd not in before
    ) / 2**20
    path = run_dir / "index"
    save_index(index, str(path))
    bytes_ratio = pl.dir_bytes(path) / pl.text_bytes(inp.base["text"])
    t0 = time.perf_counter()
    _warm_up(spark, inp, index, path, ("query1", "cold"))
    t_warm = time.perf_counter() - t0

    batch_df = _batch_frame(spark, inp)
    cold_df = _cold_frame(spark, inp)
    walls: dict[str, list[float]] = {c: [] for c in CYCLE}
    n_single = 0
    t_start = time.perf_counter()
    n_calls = 0
    while n_calls < len(CYCLE) or time.perf_counter() - t_start < seconds:
        call = CYCLE[n_calls % len(CYCLE)]
        n_calls += 1
        shape = "query1" if call == "after_cold" else call
        if shape == "query1":
            qid, qdf = _single_frame(spark, inp, n_single)
            n_single += 1
        else:
            qdf = cold_df if call == "cold" else batch_df
        t0 = time.perf_counter()
        rows = _serve(spark, index, path, shape, qdf)
        walls[call].append(time.perf_counter() - t0)
        if shape == "query1":
            chk.results(call, rows, want["bm25"], [qid], exact=True)
        elif call == "cold":
            chk.results(call, rows, want["bm25"], _cold_ids(inp), exact=False)
        else:
            chk.results(call, rows, want["bm25"], list(inp.queries), exact=True)
    pl.release(index)

    med = statistics.median
    metrics = {
        "setup_s": (med(setup), "s"),
        "index_bytes_per_text_byte": (bytes_ratio, "ratio"),
        "index_mem_mb": (mem_mb, "MB"),
        "query1_s_p50": (med(walls["query1"]), "s"),
        "batch_qps_parity": (pl.BATCH / med(walls["parity"]), "queries/s"),
        "cold_batch_s_p50": (med(walls["cold"]), "s"),
    }
    return {
        "attempted": chk.attempted,
        "failed": chk.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "report": {
            "failures": chk.notes,
            # (percentile, value, samples): the median until a shape has 20 samples
            "tails_s": {k: tail_percentile(v) for k, v in walls.items()},
            "cold_build_s": cold_build,
            "setup_walls_s": setup,
            "phase_s": {"inputs": t_ref - t_run, "warm_up": t_warm,
                        "window": time.perf_counter() - t_start},
            "call_walls_s": walls,
        },
    }


# ----------------------------------------------------------------- traced run
def _plain_twins(spark, inp: pl.Inputs, base_df, path: Path, out: Path) -> dict:
    """The untraced twins of the traced build, save and cold search: a
    ``build_index`` with its tables materialized and saved to ``out``, and
    a cold call on the index at ``path``.  Returns their walls."""
    from baguetter_spark.io import save_index
    from baguetter_spark.operators.indexer import build_index

    t0 = time.perf_counter()
    index = build_index(spark, base_df, inp.config, assume_sorted=True)
    pl.force(index)
    save_index(index, str(out))
    build = time.perf_counter() - t0
    cold = pl.timed(_serve, spark, None, path, "cold", _cold_frame(spark, inp))[1]
    return {"index": index, "build+save": build, "cold": cold}


def traced(spark, workload: str, seed: int, run_dir: Path) -> dict:
    """One traced pass over every layer.

    A first, untraced ``build_index`` warms the process.  The traced base
    build and save, and the traced cold search, each have an untraced twin
    run both before and after them (``_plain_twins``; the build before is
    also the digest guard's reference).  ``trace_overhead_frac`` sets the
    traced walls of these calls against the mean of their twins, so that a
    drift in speed over the run cancels.  The event log is on for the whole
    session, so its own cost is in both sides and not in the fraction; the
    fraction holds the per-stage materialization of the composed build and
    the job descriptions.  Only the spans' own work counts in the traced
    wall."""
    from baguetter_spark.io import load_index, save_index
    from baguetter_spark.operators.bmx import bmx_score_queries, build_bmx_index
    from baguetter_spark.operators.indexer import build_index
    from baguetter_spark.operators.search import score_queries, tokenize_queries

    inp = pl.make_inputs(workload, seed)
    want = reference_answers(workload, seed, inp)
    chk = Checker()
    cfg = inp.config
    batch_df = _batch_frame(spark, inp)
    cold_df = _cold_frame(spark, inp)
    qids = list(inp.queries)
    path = run_dir / "index"
    tr = Tracer(spark)
    span = tr.span
    traced_wall = 0.0

    base_df = pl.table(spark, inp.base)
    warm = build_index(spark, base_df, cfg, assume_sorted=True)
    pl.force(warm)
    save_index(warm, str(run_dir / "warm"))
    _warm_up(spark, inp, warm, run_dir / "warm", ("parity", "fast", "pruned", "cold"))
    pl.release(warm)
    before = _plain_twins(spark, inp, base_df, run_dir / "warm", run_dir / "plain-0")
    ref = before.pop("index")

    t0 = time.perf_counter()
    base = pl.composed_build(spark, base_df, cfg, span, presorted=True, names=pl.BASE_SPANS)
    with span("io.save"):
        save_index(base, str(path))
    traced_wall += time.perf_counter() - t0
    chk.record("digest guard", pl.digest_guard(ref, base))
    chk.stats("base build", base, want["base"])
    pl.release(ref)
    decode_rate = pl.decode_postings_per_s(base)
    traced_twins = sum(tr.walls().values())

    t0 = time.perf_counter()
    with span("search.front_end"):
        tokenize_queries(base, batch_df).count()
    for call, mode in (("parity", {}), ("fast", {"parity": False}), ("pruned", {"pruned": True})):
        with span(f"search.{call}"):
            rows = score_queries(base, batch_df, top_k=TOP_K, **mode).collect()
        chk.results(call, rows, want["bm25"], qids, exact=call == "parity")
    with span("io.load"):
        stored = load_index(spark, str(path))
    with span("search.front_end"):
        tokenize_queries(stored, cold_df).count()
    with span("search.blockmax"):
        rows = score_queries(stored, cold_df, top_k=TOP_K, pruned="blockmax").collect()
    traced_wall += time.perf_counter() - t0
    traced_twins += sum(wall for name, wall in tr.spans[-3:] if name != "search.front_end")
    chk.results("blockmax", rows, want["bm25"], _cold_ids(inp), exact=False)
    n_results = len(rows)
    pl.release(base)
    after = _plain_twins(spark, inp, base_df, path, run_dir / "plain-1")
    pl.release(after.pop("index"))
    plain = (sum(before.values()) + sum(after.values())) / 2

    t0 = time.perf_counter()
    # the update goes to the stored index, as a maintenance job would
    delta_df = spark.createDataFrame(inp.delta)
    seg = pl.composed_build(spark, delta_df, cfg, span, presorted=False, names=pl.DELTA_SPANS)
    merged = pl.composed_update(spark, stored, seg, cfg, span)
    with span("io.save"):
        save_index(merged, str(run_dir / "updated"))
    with span("bmx.build"):
        bmx = build_bmx_index(spark, base_df, cfg)
        pl.force(bmx)
    with span("bmx.search"):
        rows = bmx_score_queries(bmx, batch_df, top_k=TOP_K, parity=False).collect()
    traced_wall += time.perf_counter() - t0
    chk.stats("update", merged, want["updated"])
    chk.results("bmx", rows, want["bmx"], qids, exact=False)
    pl.release(merged, bmx)

    walls = tr.walls()
    extra = {
        "preprocess.turns_per_s": (
            pl.preprocess_turns_per_s(inp.base["text"].tolist(), cfg), "turns/s"),
        "compress.decode_postings_per_s": (decode_rate, "postings/s"),
        "trace_overhead_frac": (traced_twins / plain - 1.0, "ratio"),
    }
    return {
        "attempted": chk.attempted,
        "failed": chk.failed,
        "walls": walls,
        "traced_wall": traced_wall,
        "result_rows": n_results,
        "stored_posting_rows": pl.stored_rows(path / "postings"),
        "extra": extra,
        "report": {"failures": chk.notes, "untraced_twins_s": [before, after],
                   "traced_twins_s": traced_twins, "traced_wall_s": traced_wall},
    }


def fold_trace(outcome: dict, log_dir: Path) -> dict:
    """Join the span walls with the event-log totals into per-layer metrics."""
    (log,) = [p for p in log_dir.iterdir() if p.is_file()]
    per = fold_event_log(log)
    walls = outcome["walls"]
    units = {"wall_s": "s", "cpu_s": "s", "py_bytes": "bytes", "shuffle_bytes": "bytes",
             "jobs": "count", "tasks": "count"}
    metrics = {}
    for name in SPANS:
        folded = per.get(name, {})
        for field in SPAN_FIELDS:
            value = walls.get(name, 0.0) if field == "wall_s" else folded.get(field, 0)
            metrics[f"{name}.{field}"] = (value, units[field])
    blockmax = per.get("search.blockmax", {})
    metrics["indexer.impacts_blocks.spill_bytes"] = (
        per.get("indexer.impacts_blocks", {}).get("spill_bytes", 0), "bytes")
    metrics["search.blockmax.scan_rows"] = (blockmax.get("scan_rows", 0), "rows")
    metrics["search.blockmax.scan_rows_per_result"] = (
        blockmax.get("scan_rows", 0) / max(outcome["result_rows"], 1), "rows/result")
    metrics["search.blockmax.scan_frac"] = (
        blockmax.get("scan_rows", 0)
        / max(blockmax.get("scan_nodes", 0) * outcome["stored_posting_rows"], 1), "ratio")
    metrics["gc_s"] = (sum(s["gc_s"] for s in per.values()), "s")
    metrics["driver_residual_s"] = (outcome["traced_wall"] - sum(walls.values()), "s")
    metrics.update(outcome["extra"])
    outcome["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    return outcome
