"""The four workloads: what each writes as input, sets up, runs and checks.

``openie`` and the two ClosedIE workloads drive
``EvaporateData.profile_all``; ``corpus_chain`` drives
``prepare_corpus``. A run returns a :class:`Outcome`; ``check`` lists
what is wrong with it (an empty list means correct).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid
from dataclasses import dataclass, field

import pandas as pd

from perfbench import inputs
from perfbench.standin import LatencyStandIn

#: lake size of the two ClosedIE workloads, in copies of the base table
LAKE_COPIES = 6
#: ``corpus_chain`` source documents before its 10x duplicate recipe
CORPUS_BASE_DOCS = 1000
#: ``corpus_chain`` warm-up: runs over a table of this many source
#: documents, then two over the measured table. The chain keeps getting
#: faster for about eight runs after the first (measured on 4 cores:
#: 16 s, then 3.8 s down to a steady 2.0 s on the small table, while
#: the JIT compiles); small runs do much of that warming for less
#: set-up time, and the measured table's own runs the rest.
CORPUS_WARMUP_BASE_DOCS = 250
CORPUS_WARMUP_RUNS = 4


@dataclass
class Outcome:
    rows: list
    result_df: object
    tokens: int = 0
    client: dict = field(default_factory=dict)


class Context:
    """What a workload run needs: the session, its work directory, the
    seed, and (in a traced run) the tracer."""

    def __init__(self, spark, work: str, seed: int, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer

    def span(self, layer: str, fn: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.run(layer, fn)

    def fresh_dir(self, tag: str) -> str:
        path = os.path.join(self.work, "cache", f"{tag}-{uuid.uuid4().hex[:12]}")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path


def _remove_cache(cache_dir: str) -> None:
    for d in (cache_dir, f"{cache_dir}_fn"):
        shutil.rmtree(d, ignore_errors=True)


# ------------------------------------------------------------ semantic
class _Semantic:
    """Shared flow of the three ``profile_all`` workloads."""

    copies = 1
    view_cols: list[str] = []

    #: measured runs made even past ``--seconds``, so the median has
    #: that many runs to choose from
    min_runs = 1

    def __init__(self, base_docs: int = inputs.N_BASE):
        self.base_docs = base_docs
        self.docs = base_docs * self.copies
        self.truth: pd.DataFrame | None = None
        self.docs_path = ""

    def write_inputs(self, work: str, seed: int) -> None:
        table = inputs.relabelled(seed, self.copies, self.base_docs)
        self.truth = table
        tag = f"kv-{self.base_docs}x{self.copies}-seed{seed}"
        self.docs_path = inputs.write_parquet(
            inputs.render_kv(table), os.path.join(work, "inputs", tag)
        )

    def config(self, cache_dir: str | None):
        from evaporate_spark.semantic.pipeline import ProfileConfig

        return ProfileConfig(
            train_size=10, chunk_size=2000, do_end_to_end=True, cache_dir=cache_dir
        )

    def profile(self, ctx: Context, cache_dir: str | None = None, latency_s: float | None = None) -> Outcome:
        from evaporate_spark.api import EvaporateData

        client = LatencyStandIn.create(ctx.spark.sparkContext, *(() if latency_s is None else (latency_s,)))
        data = EvaporateData(
            ctx.spark,
            docs=ctx.spark.read.parquet(self.docs_path),
            client=client,
            config=self.config(cache_dir),
        )
        self.profile_all(data)
        view = data.view().select(*self.view_cols)
        with ctx.span("api", "collect"):
            rows = view.collect()
        return Outcome(rows, view, data.total_tokens, client.totals())

    def check(self, out: Outcome) -> list[str]:
        errors = []
        want = {
            tuple(str(r[c]) for c in self.view_cols)
            for r in self.truth.assign(path="doc://" + self.truth["doc_id"].astype(str))
            .to_dict("records")
        }
        got = {tuple(r) for r in out.rows}
        if len(out.rows) != len(want) or got != want:
            errors.append(
                f"view differs from the source table: {len(got ^ want)} rows of "
                f"{len(want)} ({len(out.rows)} returned)"
            )
        counted = out.client["tokens"] - out.client["unreported_tokens"]
        if counted != out.tokens:
            errors.append(f"stand-in counted {counted} tokens, the program {out.tokens}")
        return errors


class OpenIE(_Semantic):
    name = "openie"
    view_cols = ["path", "doc_id", "lang", "source", "text"]

    def profile_all(self, data) -> None:
        data.profile_all(topic="documents", validity_check=True)

    def setup(self, ctx: Context) -> None:
        self.profile(ctx, latency_s=0.0)

    def run(self, ctx: Context) -> Outcome:
        return self.profile(ctx)


class _ClosedIE(_Semantic):
    copies = LAKE_COPIES
    view_cols = ["path", "doc_id", "lang", "source"]

    def profile_all(self, data) -> None:
        data.profile_all(attributes=["source", "lang", "doc_id"])


class ClosedIELake(_ClosedIE):
    """Every run writes a fresh, empty prompt and function cache."""

    name = "closedie_lake"

    def setup(self, ctx: Context) -> None:
        cache = ctx.fresh_dir("warmup")
        self.profile(ctx, cache_dir=cache, latency_s=0.0)
        _remove_cache(cache)

    def run(self, ctx: Context) -> Outcome:
        cache = ctx.fresh_dir("lake")
        try:
            return self.profile(ctx, cache_dir=cache)
        finally:
            _remove_cache(cache)


class ClosedIERerun(_ClosedIE):
    """Runs against the cache that one cold run fills during setup."""

    name = "closedie_rerun"

    def setup(self, ctx: Context) -> None:
        self.cache = ctx.fresh_dir("rerun")
        self.profile(ctx, cache_dir=self.cache, latency_s=0.0)

    def run(self, ctx: Context) -> Outcome:
        return self.profile(ctx, cache_dir=self.cache)

    def check(self, out: Outcome) -> list[str]:
        errors = super().check(out)
        if out.client["calls"]:
            errors.append(f"{out.client['calls']} LLM requests against a full cache")
        return errors


# -------------------------------------------------------------- corpus
SEQ_LEN = 512


class CorpusChain:
    """``prepare_corpus``: exact and near dedup, decontamination against
    an eval slice, a per-language mix, a leakage-safe split, and packing
    into windows of at most 512 tokens."""

    name = "corpus_chain"
    min_runs = 5

    def __init__(self, base_docs: int = CORPUS_BASE_DOCS):
        self.base_docs = base_docs
        self.docs = base_docs * 10

    def write_inputs(self, work: str, seed: int) -> None:
        base = inputs.relabelled(seed, n=self.base_docs)
        tag = f"corpus-{self.base_docs}-seed{seed}"
        self.docs_path = inputs.write_parquet(
            inputs.corpus_10x(base), os.path.join(work, "inputs", tag)
        )
        self.warmup_path = inputs.write_parquet(
            inputs.corpus_10x(base.iloc[:CORPUS_WARMUP_BASE_DOCS]),
            os.path.join(work, "inputs", f"{tag}-warmup"),
        )
        self.eval_path = inputs.write_parquet(
            base[base["doc_id"] % 101 == 0], os.path.join(work, "inputs", f"{tag}-eval"), 1
        )

    def chain(self, ctx: Context, docs_path: str | None = None):
        from evaporate_spark import corpus

        return corpus.prepare_corpus(
            ctx.spark.read.parquet(docs_path or self.docs_path),
            near_dedup=True,
            eval_docs=ctx.spark.read.parquet(self.eval_path),
            mix_key="lang",
            mix_fractions={"en": 1.0, "de": 0.7, "fr": 0.6},
            default_fraction=0.5,
            split_fractions={"train": 0.9, "val": 0.05, "test": 0.05},
            seq_len=SEQ_LEN,
        )

    def setup(self, ctx: Context) -> None:
        for _ in range(CORPUS_WARMUP_RUNS):
            self.run(ctx, self.warmup_path)
        for _ in range(2):
            self.run(ctx)

    def run(self, ctx: Context, docs_path: str | None = None) -> Outcome:
        packed = self.chain(ctx, docs_path).select("doc_id", "split", "seq_index", "n_tokens", "seq_text")
        with ctx.span("corpus", "exec"):
            rows = packed.collect()
        return Outcome(rows, packed)

    def check(self, out: Outcome) -> list[str]:
        errors = []
        windows = pd.DataFrame(out.rows, columns=["doc_id", "split", "seq_index", "n_tokens", "seq_text"])
        if windows.empty:
            return ["no windows"]
        splits = windows.groupby("doc_id")["split"].nunique()
        if (splits > 1).any():
            errors.append(f"{int((splits > 1).sum())} ids in more than one split")
        if (windows["n_tokens"] > SEQ_LEN).any() or (windows["n_tokens"] <= 0).any():
            errors.append("a window holds more than 512 tokens or none")
        counted = windows["seq_text"].str.split().str.len()
        if not counted.equals(windows["n_tokens"].astype(counted.dtype)):
            errors.append("n_tokens differs from the window's own token count")
        source = pd.read_parquet(self.docs_path, columns=["doc_id", "text"]).set_index("doc_id")
        kept = windows["doc_id"].unique()
        want = int(source.loc[kept, "text"].str.split().str.len().sum())
        if int(windows["n_tokens"].sum()) != want:
            errors.append(
                f"windows hold {int(windows['n_tokens'].sum())} tokens, kept docs {want}"
            )
        return errors


WORKLOADS = {w.name: w for w in (OpenIE, ClosedIELake, ClosedIERerun, CorpusChain)}
