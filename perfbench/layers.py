"""Which program functions a traced run wraps, what each wrapper counts,
and how spans become the per-layer metrics.

A function is wrapped where its caller looks it up: a module-level
import (``from x import f``) binds ``f`` in the importer's namespace,
so ``llm_map`` is wrapped in each semantic module that imports it,
while a function imported inside a function body is read from its own
module at call time and is wrapped there.
"""

from __future__ import annotations

import glob
import hashlib
import importlib
import inspect
import os

from perfbench.trace import Tracer, layer_times, union_seconds

#: (owner, attribute, layer)
WRAPS = [
    ("evaporate_spark.api.EvaporateData", "profile_all", "api"),
    ("evaporate_spark.api.EvaporateData", "view", "api"),
    ("evaporate_spark.api", "chunk_documents", "semantic.chunking"),
    ("evaporate_spark.api", "identify_schema", "semantic.schema_id"),
    ("evaporate_spark.api", "check_remove_attribute", "semantic.schema_id"),
    ("evaporate_spark.api", "profile_attributes_single_scan", "semantic.pipeline"),
    ("evaporate_spark.api", "profile_attribute", "semantic.pipeline"),
    ("evaporate_spark.semantic.pipeline", "_plan_attributes_batched", "semantic.pipeline"),
    ("evaporate_spark.semantic.pipeline", "_plan_attribute", "semantic.pipeline"),
    ("evaporate_spark.semantic.pipeline", "_apply_combine", "semantic.pipeline"),
    ("evaporate_spark.semantic.pipeline", "chunk_documents", "semantic.chunking"),
    ("evaporate_spark.semantic.pipeline", "direct_extract", "semantic.extraction"),
    ("evaporate_spark.semantic.extraction", "direct_extract_multi", "semantic.extraction"),
    ("evaporate_spark.semantic.pipeline", "synthesize_functions", "semantic.synthesis"),
    ("evaporate_spark.semantic.synthesis", "synthesize_functions_multi", "semantic.synthesis"),
    ("evaporate_spark.semantic.pipeline", "run_functions", "semantic.sandbox"),
    ("evaporate_spark.semantic.sandbox", "run_functions_multi", "semantic.sandbox"),
    ("evaporate_spark.semantic.pipeline", "evaluate_voters", "semantic.scoring"),
    ("evaporate_spark.semantic.pipeline", "select_topk", "semantic.scoring"),
    ("evaporate_spark.semantic.pipeline", "majority_vote", "semantic.combine"),
    ("evaporate_spark.semantic.ws", "weak_supervision_combine", "semantic.combine"),
    ("evaporate_spark.semantic.schema_id", "llm_map", "llm.apply"),
    ("evaporate_spark.semantic.extraction", "llm_map", "llm.apply"),
    ("evaporate_spark.semantic.synthesis", "llm_map", "llm.apply"),
    ("evaporate_spark.corpus", "prepare_corpus", "corpus"),
    ("evaporate_spark.operators.dedup", "exact_dedup", "operators.dedup"),
    ("evaporate_spark.operators.dedup", "decontaminate", "operators.dedup"),
    ("evaporate_spark.operators.mixing", "deterministic_mix", "operators.mixing"),
    ("evaporate_spark.operators.splits", "split_column", "operators.splits"),
    ("evaporate_spark.operators.packing", "pack_sequences", "operators.packing"),
]

#: per-layer metric → the end-to-end metric it should move, and where;
#: the one copy of this map (``BENCHMARK.json`` holds names, units and
#: directions only), also written into every trace file
MOVES = {
    "spark.jobs": "wall_s on openie",
    "spark.stages": "wall_s on openie",
    "spark.tasks": "wall_s on openie",
    "spark.executor_run_s": "docs_per_s on closedie_lake",
    "spark.executor_cpu_s": "docs_per_s on closedie_lake",
    "spark.jvm_gc_s": "wall_s and peak_rss_mb everywhere",
    "spark.python_rows": "docs_per_s on closedie_lake",
    "spark.python_bytes": "docs_per_s on closedie_lake",
    "spark.shuffle_read_bytes": "wall_s on corpus_chain, peak_rss_mb everywhere",
    "spark.shuffle_write_bytes": "wall_s on corpus_chain, peak_rss_mb everywhere",
    "spark.spill_bytes": "wall_s on corpus_chain, peak_rss_mb everywhere",
    "spark.exchanges": "wall_s on corpus_chain",
    "llm.client.calls": "wall_s on openie (0 on closedie_rerun)",
    "llm.client.tokens": "the LLM cost of every semantic workload",
    "llm.program_tokens": "the LLM cost the program reports (29,640 on openie at seed 0)",
    "llm.client.wait_s": "wall_s on openie",
    "llm.apply.busy_s": "wall_s on openie and closedie_rerun",
    "llm.apply.cache_hit_ratio": "0 on closedie_lake, 1.0 on closedie_rerun",
    "semantic.schema_id.busy_s": "wall_s on openie",
    "semantic.extraction.busy_s": "wall_s on openie",
    "semantic.synthesis.busy_s": "wall_s on openie",
    "semantic.scoring.busy_s": "wall_s on openie",
    "semantic.pipeline.sample_stage_s": "wall_s on openie, little on closedie_lake",
    "semantic.chunking.busy_s": "docs_per_s on closedie_lake",
    "semantic.sandbox.lake_pass_s": "docs_per_s on closedie_lake",
    "semantic.sandbox.fn_calls": "docs_per_s on closedie_lake (0 on closedie_rerun)",
    "semantic.combine.busy_s": "docs_per_s on closedie_lake",
    "api.view_s": "docs_per_s on closedie_lake",
    "corpus.plan_s": "wall_s on corpus_chain only",
    "corpus.exec_s": "wall_s on corpus_chain only",
    "operators.dedup.busy_s": "wall_s on corpus_chain only",
    "session.start_s": "setup_s",
    "session.warmup_s": "setup_s",
    "bench.self_s": "wall_s of the workload: run time outside every wrapped layer",
}

#: layers with busy and self times; ``bench`` is the run's root span, so
#: its self time is the run's time outside every wrapped call
LAYER_TIMES = [
    "bench", "api", "corpus", "semantic.pipeline", "semantic.chunking", "semantic.schema_id",
    "semantic.extraction", "semantic.synthesis", "semantic.sandbox", "semantic.scoring",
    "semantic.combine", "llm.apply", "operators.dedup", "operators.mixing",
    "operators.splits", "operators.packing",
]

SPARK = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.jvm_gc_s", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.python_rows",
    "spark.python_bytes", "spark.exchanges",
]

COUNTS = [
    "llm.client.calls", "llm.client.driver_calls", "llm.client.tokens", "llm.client.wait_s",
    "llm.program_tokens", "llm.apply.prompts", "llm.apply.cache_hit_ratio",
    "semantic.schema_id.attributes", "semantic.extraction.prompts",
    "semantic.synthesis.functions", "semantic.scoring.selected_ratio",
    "semantic.pipeline.sample_stage_s", "semantic.chunking.chunks",
    "semantic.sandbox.lake_pass_s", "semantic.sandbox.docs", "semantic.sandbox.fn_calls",
    "api.view_s", "corpus.plan_s", "corpus.exec_s", "session.start_s", "session.warmup_s",
    "trace.wall_s", "trace.untraced_wall_s", "trace.overhead_s", "trace.self_sum_s",
    "trace.spans",
]

#: every per-layer metric a traced run prints, with its unit
UNITS = {
    **{m: ("s" if m.endswith("_s") else "bytes" if m.endswith("_bytes") else "count") for m in SPARK},
    **{f"{l}.{k}": "s" for l in LAYER_TIMES for k in ("busy_s", "self_s")},
    **{m: ("s" if m.endswith("_s") else "ratio" if m.endswith("ratio") else "count") for m in COUNTS},
}


def _bind(fn, args, kwargs) -> dict:
    bound = inspect.signature(fn).bind(*args, **kwargs)
    bound.apply_defaults()
    return dict(bound.arguments)


def _parquet_rows(path: str | None) -> int:
    """Rows committed under a parquet directory, from footers only."""
    import pyarrow.parquet as pq

    if not path or not os.path.isdir(path):
        return 0
    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(path, "*.parquet"))
    )


def _parquet_keys(path: str | None) -> set[str]:
    import pyarrow.parquet as pq

    if not path or not os.path.isdir(path):
        return set()
    files = glob.glob(os.path.join(path, "*.parquet"))
    return {k for f in files for k in pq.read_table(f, columns=["cache_key"])["cache_key"].to_pylist()}


class Probes:
    """Wrapper hooks (see :meth:`Tracer.wrap`): each runs ahead of the
    wrapped call and returns an ``after(result)`` callback. Counts that
    need a Spark action are deferred to :meth:`finish`, after the run,
    so the traced run's own jobs stay those of the program."""

    def __init__(self):
        self.llm_calls: list[tuple] = []
        self.sandbox_frames: list[tuple] = []
        self.chunk_frames: list = []
        self.counts = {
            "semantic.schema_id.attributes": 0,
            "semantic.synthesis.functions": 0,
            "scoring.selected": 0,
            "scoring.candidates": 0,
        }

    def hooks(self) -> dict:
        from evaporate_spark.llm import apply as llm_apply
        from evaporate_spark.semantic import sandbox

        def llm_map(span, args, kwargs):
            a = _bind(self._originals["llm_map"], args, kwargs)
            with llm_apply._CACHE_WRITE_LOCK:
                cached = _parquet_keys(a["cache_dir"])

            def after(result):
                self.llm_calls.append((span, a["df"], a["prompt_col"], a["client"].name, a["max_tokens"], cached))
            return after

        def run_functions(fn):
            def hook(span, args, kwargs):
                a = _bind(fn, args, kwargs)
                fns = a.get("fns_by_attr") or {a.get("attribute"): a.get("functions")}
                n_fns = sum(len(f) for f in fns.values())
                cache = a.get("cache_dir")
                before = _parquet_rows(cache)

                def after(result):
                    span.info["n_fns"] = n_fns
                    span.info["cache_rows"] = _parquet_rows(cache) - before
                    self.sandbox_frames.append((span, result, n_fns))
                return after
            return hook

        def count(key, measure):
            def hook(span, args, kwargs):
                def after(result):
                    self.counts[key] += measure(result)
                return after
            return hook

        def select_topk(span, args, kwargs):
            keys = kwargs.get("function_keys") or set()

            def after(result):
                self.counts["scoring.selected"] += len(set(result) & set(keys))
                self.counts["scoring.candidates"] += len(keys)
            return after

        def chunks(span, args, kwargs):
            return self.chunk_frames.append

        self._originals = {"llm_map": llm_apply.llm_map}
        return {
            "llm.apply.llm_map": llm_map,
            "semantic.sandbox.run_functions_multi": run_functions(sandbox.run_functions_multi),
            "semantic.sandbox.run_functions": run_functions(sandbox.run_functions),
            "semantic.schema_id.identify_schema": count("semantic.schema_id.attributes", len),
            "semantic.synthesis.synthesize_functions_multi": count(
                "semantic.synthesis.functions", lambda r: sum(len(v[0]) for v in r.values())
            ),
            "semantic.synthesis.synthesize_functions": count(
                "semantic.synthesis.functions", lambda r: len(r[0])
            ),
            "semantic.scoring.select_topk": select_topk,
            "semantic.chunking.chunk_documents": chunks,
        }

    def finish(self, spans) -> dict:
        """Counts that need Spark: distinct prompts per ``llm_map`` call,
        sandbox rows of frames the program executed, chunk rows."""
        from pyspark.sql import functions as F

        from perfbench.sparkstats import python_rows_out

        out = dict(self.counts)
        by_id = {s.id: s for s in spans}
        prompts = hits = extraction_prompts = 0
        for span, df, col, name, max_tokens, cached in self.llm_calls:
            texts = [r[0] for r in df.select(col).distinct().collect()]
            keys = {
                hashlib.md5(f"{name}\x00{max_tokens}\x00{t}".encode()).hexdigest() for t in texts
            }
            prompts += len(keys)
            hits += len(keys & cached)
            parent = by_id.get(span.parent)
            if parent is not None and parent.layer == "semantic.extraction":
                extraction_prompts += len(keys)
        out["llm.apply.prompts"] = prompts
        out["llm.apply.cache_hit_ratio"] = hits / prompts if prompts else 0.0
        out["semantic.extraction.prompts"] = extraction_prompts
        fn_calls, docs = 0, 0.0
        for span, df, n_fns in self.sandbox_frames:
            rows = python_rows_out(df) + span.info["cache_rows"]
            fn_calls += rows
            docs += rows / n_fns if n_fns else 0
        out["semantic.sandbox.fn_calls"] = fn_calls
        out["semantic.sandbox.docs"] = int(round(docs))
        out["semantic.chunking.chunks"] = sum(df.count() for df in self.chunk_frames)
        sel, cand = out.pop("scoring.selected"), out.pop("scoring.candidates")
        out["semantic.scoring.selected_ratio"] = sel / cand if cand else 0.0
        return out


def target(owner: str):
    """The module or class a ``WRAPS`` owner names."""
    mod, _, cls = owner.rpartition(".")
    if cls[:1].isupper():
        return getattr(importlib.import_module(mod), cls)
    return importlib.import_module(owner)


def install(tracer: Tracer, probes: Probes) -> None:
    hooks = probes.hooks()
    for owner, attr, layer in WRAPS:
        tracer.wrap(target(owner), attr, layer, hooks.get(f"{layer}.{attr}"))


def summarize(spans, probe_counts: dict) -> dict:
    """Per-layer busy and self times and the span-derived counts."""
    out = {}
    times = layer_times(spans)
    for layer in LAYER_TIMES:
        t = times.get(layer, {"busy_s": 0.0, "self_s": 0.0})
        out[f"{layer}.busy_s"] = t["busy_s"]
        out[f"{layer}.self_s"] = t["self_s"]
    out["trace.self_sum_s"] = sum(t["self_s"] for t in times.values())

    def union(pred):
        return union_seconds([(s.start, s.end) for s in spans if pred(s)])

    out["semantic.pipeline.sample_stage_s"] = union(
        lambda s: s.fn in ("identify_schema", "_plan_attributes_batched", "_plan_attribute")
    )
    out["api.view_s"] = union(lambda s: s.layer == "api" and s.fn in ("view", "collect"))
    out["corpus.plan_s"] = union(lambda s: s.fn == "prepare_corpus")
    out["corpus.exec_s"] = union(lambda s: s.layer == "corpus" and s.fn == "exec")
    # the lake pass: from the single-scan call of run_functions_multi
    # (its plan, and its cache writes) to the first combine after it,
    # which is when the program's localCheckpoint of it has finished
    by_id = {s.id: s for s in spans}
    lake = 0.0
    for s in spans:
        parent = by_id.get(s.parent)
        if s.fn == "run_functions_multi" and parent and parent.fn == "profile_attributes_single_scan":
            nxt = [c.start for c in spans if c.fn == "_apply_combine" and c.start >= s.start]
            lake += (min(nxt) if nxt else s.end) - s.start
    out["semantic.sandbox.lake_pass_s"] = lake
    out.update(probe_counts)
    return out
