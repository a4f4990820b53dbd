"""Which engine functions each layer span wraps, and the per-layer metrics.

:func:`install` patches the package's public entry points (plus the two
streaming/commit hooks every write funnels through) with
:meth:`Tracer.wrap`. :func:`per_layer_metrics` folds the recorded spans
into the flat ``<layer>.<metric>`` names ``BENCHMARK.json`` lists; every
name is always present, 0 when the workload does not reach that layer.
"""

from __future__ import annotations

import os
from collections import Counter

PKG = "apache_iceberg_lakehouse_workshop_spark"

TEXT_MODES = ("cdc", "incremental", "noop", "retokenize", "stats_repair")
ANN_MODES = ("cdc", "incremental", "noop", "reencode")
# layer -> prefix of its per-layer Spark counters in the report
SPARK_LAYERS = {
    "plans.script": "script", "dialect": "dialect",
    "plans.accelerator": "accelerator", "lakeshim.read": "lakeshim_read",
    "lakeshim.write": "lakeshim_write", "streaming.pipeline": "streaming",
    "operators.text_index": "text_index", "operators.ann_index": "ann_index",
    "operators.textstats": "textstats", "operators.dedup": "dedup",
    "operators.similarity": "similarity", "bench.exec": "exec",
}
LAYER_SPARK_COUNTERS = ("jobs", "task_s", "wait_s", "shuffle_bytes", "driver_s")
TOTAL_SPARK_COUNTERS = ("jobs", "stages", "tasks", "task_s", "cpu_s", "wait_s",
                        "shuffle_read_bytes", "shuffle_write_bytes", "driver_s")

LAYER_METRICS = (
    ["session.start_s", "session.warmup_s",
     "script.plan_s", "script.reads_per_statement",
     "dialect.translate_s", "dialect.run_s",
     "accelerator.route_attempts", "accelerator.route_hits", "accelerator.resolve_s",
     "lakeshim.read_s", "lakeshim.read_calls", "lakeshim.files_planned",
     "lakeshim.files_total", "lakeshim.delete_files_read",
     "lakeshim.commit_s", "lakeshim.commits", "lakeshim.commit_conflicts",
     "lakeshim.bytes_written", "lakeshim.files_written", "lakeshim.maintain_s",
     "lakeshim.bytes_rewritten",
     "streaming.trigger_s", "streaming.start_s",
     "text_index.refresh_s", "text_index.refresh_jobs", "text_index.serve_s",
     "text_index.postings_files_planned"]
    + [f"text_index.refresh_mode.{m}" for m in TEXT_MODES]
    + ["ann_index.refresh_s", "ann_index.refresh_jobs", "ann_index.serve_s",
       "ann_index.codes_files_planned", "ann_index.codes_files_total"]
    + [f"ann_index.refresh_mode.{m}" for m in ANN_MODES]
    + ["textstats.s", "dedup.exact_s", "dedup.minhash_lsh_s",
       "dedup.candidate_pairs", "dedup.verified_pairs",
       "similarity.semdedup_s", "similarity.knn_s",
       "split.exec_s", "trace.op_p50_s", "trace.untraced_op_p50_s",
       "trace.overhead_s", "trace.spans", "quality.oracle_match",
       "quality.recall_at_10", "quality.knn_recall_at_10", "quality.dup_recall"]
    + [f"spark.{c}" for c in TOTAL_SPARK_COUNTERS]
    + [f"{p}.spark.{c}" for p in SPARK_LAYERS.values() for c in LAYER_SPARK_COUNTERS]
)

WRITE_METHODS = ("append", "overwrite", "delete_where", "update_where",
                 "merge", "merge_into", "delete_by_key", "upsert_equality",
                 "apply_changes", "delete_positions")
MAINT_METHODS = ("compact", "fold_deletes", "maintain", "expire_snapshots")
READ_METHODS = ("read", "read_incremental", "read_changes", "read_with_coords")


def install(tr) -> None:
    """Wrap the layers' public functions in spans."""
    import importlib

    dialect = importlib.import_module(f"{PKG}.dialect")
    lakeshim = importlib.import_module(f"{PKG}.plans.lakeshim")
    accel = importlib.import_module(f"{PKG}.plans.accelerator")
    advisor = importlib.import_module(f"{PKG}.plans.advisor")
    script = importlib.import_module(f"{PKG}.plans.script")
    streaming = importlib.import_module(f"{PKG}.streaming.pipeline")
    tx = importlib.import_module(f"{PKG}.operators.text_index")
    ax = importlib.import_module(f"{PKG}.operators.ann_index")

    def count_reads(sp, args, kwargs, result):
        tr.watch_frame(sp, result)
        sid = kwargs.get("snapshot_id", args[1] if len(args) > 1 else None)
        _describe(sp, args[0], sid)

    def serve(part):
        def after(sp, args, kwargs, result):
            tr.watch_frame(sp, result)
            mod = tx if part == "postings" else ax
            _describe(sp, args[0].table(mod._part(args[1], part)))
        return after

    def mode(sp, args, kwargs, result):
        if isinstance(result, dict):
            sp.attrs["mode"] = result.get("mode")

    def route(sp, args, kwargs, result):
        sp.attrs["hit"] = result is not None

    tr.wrap(script.ScriptRunner, "run", "plans.script", "script.run")
    tr.wrap(script.ScriptRunner, "_refresh", "plans.script", "script.refresh")
    tr.wrap(dialect, "translate", "dialect", "dialect.translate")
    tr.wrap(dialect, "run", "dialect", "dialect.run")
    tr.wrap(advisor.WorkloadAdvisor, "route_sql", "plans.accelerator",
            "accelerator.route", after=route)
    tr.wrap(accel.AcceleratorRegistry, "resolve", "plans.accelerator",
            "accelerator.resolve")
    for m in READ_METHODS:
        tr.wrap(lakeshim.LakeTable, m, "lakeshim.read", f"lakeshim.{m}",
                after=count_reads if m == "read" else None)
    for m in WRITE_METHODS:
        tr.wrap(lakeshim.LakeTable, m, "lakeshim.write", f"lakeshim.{m}")
    for m in MAINT_METHODS:
        tr.wrap(lakeshim.LakeTable, m, "lakeshim.write", f"lakeshim.maint.{m}")
    # every commit ends in this metadata swap
    tr.wrap(lakeshim.LakeTable, "_commit", "lakeshim.write", "lakeshim.commit_swap")
    tr.wrap(streaming, "stream_cdc_maintain_indexes", "streaming.pipeline",
            "streaming.start")
    tr.wrap(streaming, "_cdc_upkeep_batch", "streaming.pipeline",
            "streaming.trigger")
    tr.wrap(tx, "refresh_text_index", "operators.text_index",
            "text_index.refresh", after=mode)
    tr.wrap(tx, "bm25_query", "operators.text_index", "text_index.serve",
            after=serve("postings"))
    tr.wrap(ax, "refresh_ann_index", "operators.ann_index",
            "ann_index.refresh", after=mode)
    tr.wrap(ax, "ann_query", "operators.ann_index", "ann_index.serve",
            after=serve("codes"))
    tr.hook_threads()
    # conflicts are counted where they are raised, retried or not
    orig_init = lakeshim.CommitConflictError.__init__

    def conflict_init(self, *a, **k):
        tr.conflicts += 1
        orig_init(self, *a, **k)

    tr.conflicts = 0
    lakeshim.CommitConflictError.__init__ = conflict_init
    tr.patched.append((lakeshim.CommitConflictError, "__init__", orig_init))


def _describe(sp, table, snapshot_id=None) -> None:
    """Record on ``sp`` the table a frame reads: its path, the data files
    of the snapshot read and that snapshot's delete-file dirs."""
    meta = table._load_meta()
    snap = (next((x for x in meta["snapshots"] if x["id"] == snapshot_id), None)
            if snapshot_id is not None else table._current_snapshot(meta)) or {}
    n = 0
    for d in snap.get("commit_dirs", []):
        for _root, _dirs, files in os.walk(os.path.join(table.path, "data", d)):
            n += sum(f.endswith(".parquet") for f in files)
    sp.attrs.update(table=table.path, files_total=n, delete_dirs=(
        list(snap.get("delete_dirs", [])) + [e["dir"] for e in snap.get("eq_deletes", [])]))


def _planned(sp) -> tuple[int, int]:
    """(data files, delete files) the span's frame lists under its table."""
    from urllib.parse import urlparse

    root = os.path.realpath(sp.attrs.get("table", "/")) + os.sep
    files = [p for p in (os.path.realpath(urlparse(f).path)
                         for f in sp.attrs.get("input_files", [])) if p.startswith(root)]
    dels = sum(1 for f in files if any(f"/{d}/" in f for d in sp.attrs.get("delete_dirs", [])))
    return len(files) - dels, dels


def per_layer_metrics(tr, n_statements: int, extra: dict) -> dict:
    """Fold spans into the per-layer metric names (all present). A
    ``*_s`` named after a call is its mean wall per call; ``dialect.*``,
    ``accelerator.resolve_s``, ``lakeshim.read_s`` and ``split.exec_s``
    are per traced operation; counts are totals over the traced half."""
    m = {k: 0.0 for k in LAYER_METRICS}
    m.update({k: v for k, v in extra.items() if k in m})
    by_name: dict[str, list] = {}
    for s in tr.all_spans():
        by_name.setdefault(s.name, []).append(s)

    def total(name):
        return sum(s.wall for s in by_name.get(name, []))

    def self_total(layer):
        return sum(s.self_s for s in tr.all_spans() if s.layer == layer)

    n_ops = max(1, len(tr.ops))
    m["script.plan_s"] = _mean(by_name.get("script.run", []))
    reads_in_script = sum(
        1 for s in by_name.get("lakeshim.read", []) if _inside(s, "script.run"))
    m["script.reads_per_statement"] = reads_in_script / max(1, n_statements)
    m["dialect.translate_s"] = total("dialect.translate") / n_ops
    m["dialect.run_s"] = total("dialect.run") / n_ops
    routes = by_name.get("accelerator.route", [])
    m["accelerator.route_attempts"] = len(routes)
    m["accelerator.route_hits"] = sum(1 for s in routes if s.attrs.get("hit"))
    m["accelerator.resolve_s"] = total("accelerator.resolve") / n_ops
    reads = by_name.get("lakeshim.read", [])
    m["lakeshim.read_s"] = self_total("lakeshim.read") / n_ops
    m["lakeshim.read_calls"] = len(reads)
    counts = [_planned(s) for s in reads]
    m["lakeshim.files_planned"] = sum(c[0] for c in counts)
    m["lakeshim.files_total"] = sum(s.attrs.get("files_total", 0) for s in reads)
    m["lakeshim.delete_files_read"] = sum(c[1] for c in counts)
    writes = [s for w in WRITE_METHODS for s in by_name.get(f"lakeshim.{w}", [])]
    maint = [s for w in MAINT_METHODS for s in by_name.get(f"lakeshim.maint.{w}", [])]
    m["lakeshim.commit_s"] = _mean([s for s in writes if not _has_ancestor(s, writes)])
    m["lakeshim.maintain_s"] = _mean([s for s in maint if not _has_ancestor(s, maint)])
    m["lakeshim.commits"] = len(by_name.get("lakeshim.commit_swap", []))
    m["lakeshim.commit_conflicts"] = getattr(tr, "conflicts", 0)
    m["streaming.trigger_s"] = _mean(by_name.get("streaming.trigger", []))
    m["streaming.start_s"] = _mean(by_name.get("streaming.start", []))
    for kind, modes in (("text_index", TEXT_MODES), ("ann_index", ANN_MODES)):
        refs = by_name.get(f"{kind}.refresh", [])
        m[f"{kind}.refresh_s"] = _mean(refs)
        m[f"{kind}.refresh_jobs"] = (
            sum(len(j.jobs) for s in refs for j in s.subtree()) / len(refs) if refs else 0.0)
        counts = Counter(s.attrs.get("mode") for s in refs)
        for md in modes:
            m[f"{kind}.refresh_mode.{md}"] = counts.get(md, 0)
        m[f"{kind}.serve_s"] = _mean(by_name.get(f"{kind}.serve", []))
    for kind, part in (("text_index", "postings"), ("ann_index", "codes")):
        serves = by_name.get(f"{kind}.serve", [])
        m[f"{kind}.{part}_files_planned"] = (
            sum(_planned(s)[0] for s in serves) / len(serves) if serves else 0.0)
    serves = by_name.get("ann_index.serve", [])
    m["ann_index.codes_files_total"] = (
        sum(s.attrs.get("files_total", 0) for s in serves) / len(serves) if serves else 0.0)
    for name in ("textstats.s", "dedup.exact_s", "dedup.minhash_lsh_s",
                 "similarity.semdedup_s", "similarity.knn_s"):
        m[name] = _mean(by_name.get(name, []))
    m["split.exec_s"] = total("bench.exec") / n_ops
    m["trace.spans"] = sum(1 for _ in tr.all_spans())
    rep = tr.layer_report()
    for c in TOTAL_SPARK_COUNTERS:
        m[f"spark.{c}"] = sum(r.get(c, 0.0) for r in rep.values())
    for layer, prefix in SPARK_LAYERS.items():
        r = rep.get(layer, {})
        for c in LAYER_SPARK_COUNTERS:
            if c == "shuffle_bytes":
                v = r.get("shuffle_read_bytes", 0) + r.get("shuffle_write_bytes", 0)
            else:
                v = r.get(c, 0.0)
            m[f"{prefix}.spark.{c}"] = v
    return m


def _mean(spans) -> float:
    return sum(s.wall for s in spans) / len(spans) if spans else 0.0


def _inside(s, name: str) -> bool:
    p = s.parent
    while p is not None:
        if p.name == name:
            return True
        p = p.parent
    return False


def _has_ancestor(s, group) -> bool:
    ids = {id(g) for g in group}
    p = s.parent
    while p is not None:
        if id(p) in ids:
            return True
        p = p.parent
    return False


def unit_of(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if name.startswith("quality."):
        return "ratio"
    if leaf.endswith("_bytes") or name in ("lakeshim.bytes_written",
                                           "lakeshim.bytes_rewritten"):
        return "bytes"
    if leaf.endswith("_s") or leaf == "s":
        return "s"
    return "count"
