"""In-memory spans around the public entry points of each layer.

`install()` wraps functions and methods of `wrangler_spark` at runtime;
nothing in the package changes. Each span records name, layer, start,
end, parent span and the trace id of the benchmark operation (epoch or
request) it belongs to. Spans stay in memory and are written out once,
when the run ends. A layer's self time is the time its spans cover
minus the part their child spans cover.
"""

from __future__ import annotations

import functools
import json
import os
import threading
from contextlib import contextmanager

from harness import now

LAYERS = (
    "bench", "session", "recipe", "cdc.events", "cdc.replay",
    "lake.merge", "lake.table", "lake.read", "pipeline",
)


class Span:
    __slots__ = ("sid", "name", "layer", "trace", "parent", "start", "end", "attrs")

    def __init__(self, sid, name, layer, trace, parent):
        self.sid, self.name, self.layer = sid, name, layer
        self.trace, self.parent = trace, parent
        self.start = now()
        self.end = None
        self.attrs: dict = {}

    @property
    def dur(self) -> float:
        return (self.end or now()) - self.start

    def to_dict(self) -> dict:
        return {
            "id": self.sid, "name": self.name, "layer": self.layer,
            "trace": self.trace, "parent": self.parent,
            "start": self.start, "end": self.end, "attrs": self.attrs,
        }


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._tls = threading.local()
        self._next_trace = 0

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str, new_trace: bool = False):
        st = self._stack()
        parent = st[-1] if st else None
        if new_trace or parent is None:
            self._next_trace += 1
            trace = self._next_trace
        else:
            trace = parent.trace
        sp = Span(len(self.spans), name, layer, trace, parent.sid if parent else None)
        self.spans.append(sp)
        st.append(sp)
        try:
            yield sp
        finally:
            sp.end = now()
            st.pop()

    def op(self, name: str):
        """Root span of one benchmark operation, with its own trace id."""
        return self.span(name, "bench", new_trace=True)

    def wrap(self, owner, attr: str, layer: str, name: str | None = None,
             on_result=None, around=None):
        """Replace owner.attr with a spanned version. `around(fn, args,
        kwargs, span)` may replace the call itself; `on_result(span,
        args, kwargs, result)` records counts on the span."""
        fn = getattr(owner, attr)
        if getattr(fn, "__perfbench__", False):
            return
        label = name or f"{layer}.{attr}"
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with tracer.span(label, layer) as sp:
                res = around(fn, args, kwargs, sp) if around else fn(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, args, kwargs, res)
                return res

        wrapped.__perfbench__ = True
        if isinstance(getattr(owner, "__dict__", {}).get(attr), staticmethod):
            wrapped = staticmethod(wrapped)
        setattr(owner, attr, wrapped)

    # ------------------------------------------------------------ analysis
    def self_times(self, op_name: str) -> dict[str, float]:
        """Per layer, per operation named `op_name`: span time minus the
        time covered by child spans, over the spans of those operations."""
        roots = [sp for sp in self.spans if sp.layer == "bench" and sp.name == op_name]
        traces = {sp.trace for sp in roots}
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out = {layer: 0.0 for layer in LAYERS}
        for sp in self.spans:
            if sp.end is None or sp.trace not in traces:
                continue
            covered = _union(
                (max(c.start, sp.start), min(c.end or sp.end, sp.end))
                for c in kids.get(sp.sid, ())
            )
            out[sp.layer] = out.get(sp.layer, 0.0) + max(0.0, sp.dur - covered)
        return {layer: s / max(1, len(roots)) for layer, s in out.items()}

    def by_name(self, name: str, op: str | None = None) -> list[Span]:
        """Finished spans called `name`; with `op`, only those inside
        benchmark operations called `op`."""
        traces = None
        if op is not None:
            traces = {
                sp.trace for sp in self.spans if sp.layer == "bench" and sp.name == op
            }
        return [
            sp for sp in self.spans
            if sp.name == name and sp.end is not None
            and (traces is None or sp.trace in traces)
        ]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.to_dict(), default=str) + "\n")


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def install(tracer: Tracer, force_pipeline_stages: bool = False) -> None:
    """Wrap the public entry points of every layer."""
    import wrangler_spark
    from wrangler_spark import session
    from wrangler_spark.cdc import events as cdc_events
    from wrangler_spark.cdc import replay as cdc_replay
    from wrangler_spark.lake import merge as lake_merge
    from wrangler_spark.lake.table import LakeTable
    from wrangler_spark.pipeline import corpus
    from wrangler_spark.recipe import compiler
    import wrangler_spark.cdc as cdc_pkg

    tracer.wrap(session, "get_spark", "session", "session.start")

    for mod in (compiler, wrangler_spark, cdc_replay):
        tracer.wrap(mod, "compile_recipe", "recipe", "recipe.compile")
    tracer.wrap(compiler.CompiledRecipe, "apply", "recipe", "recipe.plan")

    for mod in (cdc_events, cdc_pkg):
        tracer.wrap(mod, "generate_events", "cdc.events", "cdc.events.generate")
    tracer.wrap(cdc_replay.Replayer, "replay_epoch", "cdc.replay", "cdc.replay_epoch",
                on_result=_keep_result)
    tracer.wrap(cdc_replay.Replayer, "save_checkpoint", "cdc.replay", "cdc.checkpoint")

    tracer.wrap(lake_merge, "merge_into", "lake.merge", "lake.merge",
                around=_storage_around(lambda a, k: a[0].path), on_result=_keep_result)

    for attr in ("create", "load"):
        tracer.wrap(LakeTable, attr, "lake.table", f"lake.{attr}")
    for attr in ("commit", "compact"):
        tracer.wrap(LakeTable, attr, "lake.table", f"lake.{attr}",
                    around=_storage_around(lambda a, k: a[0].path),
                    on_result=_keep_result)
    for attr in ("upsert", "write_buckets", "write_change_files"):
        tracer.wrap(LakeTable, attr, "lake.table", f"lake.{attr}")

    tracer.wrap(LakeTable, "scan_plan", "lake.read", "lake.scan_plan", on_result=_keep_result)
    for attr in ("scan", "read", "table_changes", "count_rows"):
        tracer.wrap(LakeTable, attr, "lake.read", f"lake.{attr}")

    tracer.wrap(corpus, "prepare_corpus", "pipeline", "pipeline.prepare_corpus")
    stages = {
        "exact_dedup": "pipeline.exact_dedup",
        "minhash_lsh_pairs": "pipeline.minhash_pairs",
        "dup_clusters": "pipeline.clusters",
        "keep_best_per_cluster": "pipeline.keep_best",
        "decontaminate": "pipeline.decontaminate",
        "chunk_documents": "pipeline.chunk",
        "pack_sequences": "pipeline.pack",
    }
    for attr, name in stages.items():
        around = None
        if force_pipeline_stages:
            around = _force_stage(tracer, annotate_input=(attr == "exact_dedup"))
        tracer.wrap(corpus, attr, "pipeline", name, around=around)


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def write_layers(tracer: Tracer, op: str) -> dict:
    """lake.merge and lake.table metrics over the spans of operations
    called `op`: durations from spans, counts from the merge results and
    from the directory listings taken around each call."""
    from harness import written

    def wr(sp, prefix):
        before, after = sp.attrs.get("listing", ({}, {}))
        return written(before, after, prefix)

    merges = [sp for sp in tracer.by_name("lake.merge", op) if "result" in sp.attrs]
    results = [sp.attrs["result"] for sp in merges]
    timings = [r.get("timings") or {} for r in results]
    commits = tracer.by_name("lake.commit", op)
    compacts = tracer.by_name("lake.compact", op)
    return {
        "lake.merge_s": mean(sp.dur for sp in merges),
        "lake.merge.probe_s": mean(t.get("probe_sec", 0.0) for t in timings),
        "lake.merge.write_s": mean(t.get("write_sec", 0.0) for t in timings),
        "lake.merge.keys": mean(r.get("keys", 0) for r in results),
        "lake.merge.affected_buckets": mean(r.get("affected_buckets", 0) for r in results),
        "lake.merge.files_written": mean(wr(sp, "data")[0] for sp in merges),
        "lake.merge.bytes_written": mean(wr(sp, "data")[1] for sp in merges),
        "lake.commit_s": mean(sp.dur for sp in commits),
        "lake.meta_bytes_per_commit": mean(wr(sp, "_meta")[1] for sp in commits),
        "lake.compact_s": mean(sp.dur for sp in compacts),
        "lake.compactions": len(compacts),
        "lake.compact.bytes_rewritten": mean(wr(sp, "")[1] for sp in compacts),
    }


def _keep_result(sp: Span, args, kwargs, res) -> None:
    if isinstance(res, dict):
        sp.attrs["result"] = {k: v for k, v in res.items() if k != "staged"}


def _storage_around(path_of):
    """Record files and bytes a call writes under the table directory."""
    from harness import listing

    def around(fn, args, kwargs, sp):
        root = path_of(args, kwargs)
        before = listing(root)
        try:
            return fn(*args, **kwargs)
        finally:
            sp.attrs["listing"] = (before, listing(root))

    return around


def _force_stage(tracer: Tracer, annotate_input: bool):
    """Traced corpus runs only: materialize each lazy stage output so
    its span covers the stage's own work (downstream stages then read
    the materialized result). exact_dedup's input is the annotated,
    gated corpus; forcing it first gives the annotate stage its span."""

    def around(fn, args, kwargs, sp):
        args = list(args)
        if annotate_input:
            with tracer.span("pipeline.annotate", "pipeline") as a:
                args[0] = args[0].localCheckpoint(eager=True)
                a.attrs["rows"] = args[0].count()
        out = fn(*args, **kwargs).localCheckpoint(eager=True)
        sp.attrs["rows"] = out.count()
        return out

    return around
