"""Spans for the traced run, and the per-layer metrics built from them.

``instrument`` wraps the public functions of each engine layer at runtime
(the engine itself is not edited).  A span records its name, start, end,
parent and trace id (the id of its root request span); spans stay in memory
until the run ends.  While a span is open its id is the Spark job
description, so the uncompressed local event log can be joined back to the
spans: every job, stage, task and SQL-node accumulable is attributed to the
innermost span that launched it.

A span's self time is its duration minus its children's durations (spans
nest on the one driver thread).  Spark's parallel file listing (a scan of
more than 32 files) replaces the job description with its own; such a
job is attributed to the innermost span open when it was submitted.

Calls such as ``JournalStore.read`` or ``decode_kafka_to_actions`` only
build a lazy DataFrame; their data work runs later, inside whichever span
collects or writes it.  The store scan and the Kafka-frame decode are
therefore attributed through the event log: a task belongs to a scan class
when it updates a metric of a parquet scan node whose location matches the
class (``SCAN_CLASSES``).
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import statistics
import sys
import time

#: per-layer metrics of the traced run, with their units
PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "api.append_self_s": "s",
    "api.read_self_s": "s",
    "api.pointer_self_s": "s",
    "api.delete_to_self_s": "s",
    "api.jobs_per_append": "count",
    "api.jobs_per_read": "count",
    "folds.head_info_s": "s",
    "folds.calls": "count",
    "plans.recovery.build_s": "s",
    "plans.recovery.exec_s": "s",
    "codecs.encode_s": "s",
    "codecs.decode_task_s": "s",
    "codecs.decode_python_s": "s",
    "codecs.records_in": "count",
    "codecs.records_decoded": "count",
    "codecs.decoded_ratio": "ratio",
    "streaming.replicator.batch_self_s": "s",
    "streaming.replicator.jobs_per_batch": "count",
    "streaming.replicator.tasks_per_batch": "count",
    "streaming.replicator.shuffle_bytes_per_batch": "bytes",
    "streaming.replicator.actions_in": "count",
    "streaming.replicator.actions_applied": "count",
    "streaming.replicator.applied_ratio": "ratio",
    "sources.statestore.append_journal_s": "s",
    "sources.statestore.upsert_metajournal_s": "s",
    "sources.statestore.upsert_pointers_s": "s",
    "sources.statestore.compact_s": "s",
    "sources.statestore.files_written_per_batch": "count",
    "sources.statestore.bands_touched_per_batch": "count",
    "sources.statestore.bytes_written_per_action": "bytes",
    "sources.statestore.read_task_s": "s",
    "sources.statestore.tasks_per_read": "count",
    "sources.statestore.live_files": "count",
}

#: the corpus queries, keyed by the ``functions`` module that implements them
CORPUS_QUERIES = {
    "d_dedup_exact": "dedup",
    "d_minhash_lsh": "dedup",
    "d_simhash_sigs": "dedup",
    "d_pii_scrub": "text",
    "e_cosine_topk": "similarity",
    "d_pipeline_e2e": "dedup",
}
QUERY_METRICS = {
    "build_s": "s",
    "exec_s": "s",
    "exchanges": "count",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
    "python_worker_s": "s",
}
for _q, _m in CORPUS_QUERIES.items():
    for _k, _u in QUERY_METRICS.items():
        PER_LAYER[f"functions.{_m}.{_q}.{_k}"] = _u
PER_LAYER.update(
    {
        "spark.executor_run_s": "s",
        "spark.cpu_s": "s",
        "spark.gc_s": "s",
        "spark.jobs": "count",
        "spark.tasks": "count",
        "spark.listing_jobs": "count",
        "spark.task_skew": "ratio",
        "spark.busy_ratio": "ratio",
        "spark.jvm_peak_rss_mb": "MB",
        "trace.wall_s": "s",
        "trace.unattributed_s": "s",
        "trace.untagged_jobs": "count",
        "trace.overhead_ratio": "ratio",
    }
)


class Tracer:
    """In-memory span recorder; a no-op while ``enabled`` is false."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _describe(self, span_id) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(span_id)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = f"span-{len(self.spans) + len(self._stack)}-{time.perf_counter_ns()}"
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else sid,
            "start": time.perf_counter(),
            "end": None,
            "t0": time.time(),
        }
        self._stack.append(rec)
        self._describe(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["t1"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            self._describe(self._stack[-1]["id"] if self._stack else None)


NO_TRACE = Tracer()


def _replace_everywhere(orig, wrapper) -> None:
    """Rebind ``orig`` in every loaded engine module (callers that did
    ``from module import fn`` hold their own reference)."""
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("kafka_journal_spark"):
            continue
        for k, v in list(vars(mod).items()):
            if v is orig:
                setattr(mod, k, wrapper)


def _wrapped(tracer: Tracer, fn, name: str):
    @functools.wraps(fn)
    def w(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return w


def instrument(tracer: Tracer) -> None:
    """Wrap the public functions of each journal layer in spans.  The corpus
    queries are wrapped by their workload (build and exec spans)."""
    import kafka_journal_spark.codecs as codecs
    import kafka_journal_spark.folds as folds
    import kafka_journal_spark.plans.recovery as recovery
    import kafka_journal_spark.streaming.replicator as replicator
    # importing the client loads every module whose references get rebound
    from kafka_journal_spark.api import JournalClient
    from kafka_journal_spark.sources.statestore import JournalStore

    for meth in ("append", "read", "pointer", "delete_to"):
        setattr(JournalClient, meth, _wrapped(tracer, getattr(JournalClient, meth), f"api.{meth}"))
    for meth in ("append_journal", "upsert_metajournal", "upsert_pointers", "compact", "read"):
        setattr(
            JournalStore,
            meth,
            _wrapped(tracer, getattr(JournalStore, meth), f"sources.statestore.{meth}"),
        )
    for mod, fn, name in (
        (folds, "head_info", "folds.head_info"),
        (codecs, "encode_actions_to_kafka", "codecs.encode"),
        (codecs, "decode_kafka_to_actions", "codecs.decode"),
        (replicator, "replicate_batch", "streaming.replicator.batch"),
    ):
        orig = getattr(mod, fn)
        _replace_everywhere(orig, _wrapped(tracer, orig, name))

    # the recovery plan is built by read_with_plan and executed by the
    # caller's collect() of the frame it returned
    planned: set[int] = set()
    patched: set[type] = set()
    build = recovery.read_with_plan

    def traced_collect(collect):
        @functools.wraps(collect)
        def w(self):
            if id(self) in planned:
                planned.discard(id(self))
                with tracer.span("plans.recovery.exec"):
                    return collect(self)
            return collect(self)

        return w

    @functools.wraps(build)
    def read_with_plan(*args, **kwargs):
        with tracer.span("plans.recovery.build"):
            df = build(*args, **kwargs)
        if tracer.enabled:
            cls = type(df)
            if cls not in patched:
                patched.add(cls)
                cls.collect = traced_collect(cls.collect)
            planned.add(id(df))
        return df

    _replace_everywhere(build, read_with_plan)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_PY_TIME = "time to run Python workers"
_LISTING = "Listing leaf files and directories"

#: scan classes: the scan node's ``Location`` (its first file or directory)
#: matched against these patterns
SCAN_CLASSES = {
    # the replicated store's tables (JournalClient keeps it under <root>/store)
    "store": re.compile(r"/store/(journal|metajournal|pointers)/"),
    # the Kafka frames a drain wrote (journal.py) and decodes
    "frames": re.compile(r"/kafka/drain-"),
}


def parse_event_log(path: str, spans: list[dict]) -> tuple[dict, list]:
    """Per-span Spark counters from an uncompressed event log: jobs, tasks,
    executor run/CPU/GC time, shuffle and spill bytes, Python-worker time,
    shuffle Exchange nodes of the final (adaptive) plans, and the tasks (and
    their run time) that scan each of ``SCAN_CLASSES``.  Also returns every
    job as (submission time in epoch s, span id or None, is a listing job)."""
    ids = {s["id"] for s in spans}

    def span_at(t: float):
        open_ = [s for s in spans if s["t0"] <= t <= s["t1"]]
        return max(open_, key=lambda s: s["t0"])["id"] if open_ else None

    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    plans: dict[int, dict] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                desc = props.get("spark.job.description") or ""
                t = e.get("Submission Time", 0) / 1000
                listing = desc.startswith(_LISTING)
                jobs[e["Job ID"]] = {
                    "span": desc if desc in ids else span_at(t) if listing else None,
                    "exec": props.get("spark.sql.execution.id"),
                    "submitted": t,
                    "listing": listing,
                }
                for s in e["Stage IDs"]:
                    stage_job.setdefault(s, e["Job ID"])
            elif ev == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                tasks.append(
                    {
                        "stage": e["Stage ID"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        "spill_bytes": m.get("Disk Bytes Spilled", 0),
                        "accums": {
                            a["ID"]: a.get("Update", 0)
                            for a in info.get("Accumulables", [])
                        },
                    }
                )
            elif ev.endswith("SQLExecutionStart") or ev.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                plans[e["executionId"]] = e["sparkPlanInfo"]

    py_ids: set[int] = set()
    scan_ids: dict[int, str] = {}
    exchanges: dict[int, int] = {}

    def walk(node, ex_id):
        if node["nodeName"] == "Exchange":
            exchanges[ex_id] = exchanges.get(ex_id, 0) + 1
        loc = (node.get("metadata") or {}).get("Location", "")
        cls = next((c for c, rx in SCAN_CLASSES.items() if rx.search(loc)), None)
        for m in node.get("metrics", []):
            if m["name"] == _PY_TIME:
                py_ids.add(m["accumulatorId"])
            if cls:
                scan_ids[m["accumulatorId"]] = cls
        for c in node.get("children", []):
            walk(c, ex_id)

    for ex_id, plan in plans.items():
        exchanges[ex_id] = 0
        walk(plan, ex_id)

    per_span: dict[str, dict] = {}

    def acc(span_id) -> dict:
        return per_span.setdefault(
            span_id,
            {
                "jobs": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                "shuffle_bytes": 0, "spill_bytes": 0, "py_ms": 0,
                "execs": set(), "stage_runs": {},
                **{f"{c}_{k}": 0 for c in SCAN_CLASSES for k in ("tasks", "run_ms")},
            },
        )

    for j in jobs.values():
        if j["span"]:
            a = acc(j["span"])
            a["jobs"] += 1
            if j["exec"] is not None:
                a["execs"].add(int(j["exec"]))
    for t in tasks:
        job = jobs.get(stage_job.get(t["stage"], -1))
        if not job or not job["span"]:
            continue
        a = acc(job["span"])
        a["tasks"] += 1
        for k in ("run_ms", "cpu_ns", "gc_ms", "shuffle_bytes", "spill_bytes"):
            a[k] += t[k]
        # SQL-metric updates are logged as strings
        a["py_ms"] += sum(float(v) for i, v in t["accums"].items() if i in py_ids)
        for c in {scan_ids[i] for i in t["accums"] if i in scan_ids}:
            a[f"{c}_tasks"] += 1
            a[f"{c}_run_ms"] += t["run_ms"]
        a["stage_runs"].setdefault(t["stage"], []).append(t["run_ms"])
    for a in per_span.values():
        a["exchanges"] = sum(exchanges.get(x, 0) for x in a["execs"])
    return per_span, [(j["submitted"], j["span"], j["listing"]) for j in jobs.values()]


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------


def per_layer_metrics(
    tracer: Tracer,
    event_log: str,
    *,
    wall: float,
    cores: int,
    session_s: float,
    peak_rss_mb: float,
    counters: dict,
    overhead: float,
    windows: list[tuple[float, float]],
    spans_out: str | None = None,
) -> dict:
    """``windows`` are the traced cycles as (start, end) epoch seconds: every
    job submitted inside one should be attributed to a span."""
    spans = tracer.spans
    children: dict[str, list] = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s)
    dur = {s["id"]: s["end"] - s["start"] for s in spans}
    self_t = {
        sid: d - sum(dur[c["id"]] for c in children.get(sid, [])) for sid, d in dur.items()
    }
    spark, all_jobs = parse_event_log(event_log, spans)
    traced_jobs = [
        (span, listing)
        for t, span, listing in all_jobs
        if any(a <= t <= b for a, b in windows)
    ]
    if spans_out:
        with open(spans_out, "w") as f:
            for s in spans:
                a = spark.get(s["id"], {})
                rec = dict(s, self_s=self_t[s["id"]])
                rec.update({k: v for k, v in a.items() if k not in ("execs", "stage_runs")})
                f.write(json.dumps(rec) + "\n")

    def subtree(sid):
        yield sid
        for c in children.get(sid, []):
            yield from subtree(c["id"])

    def named(name):
        return [s["id"] for s in spans if s["name"] == name]

    def mean_self(name):
        ids = named(name)
        return sum(self_t[i] for i in ids) / len(ids) if ids else 0.0

    def mean_dur(name):
        ids = named(name)
        return sum(dur[i] for i in ids) / len(ids) if ids else 0.0

    def per_call(name, key):
        ids = named(name)
        if not ids:
            return 0.0
        total = sum(spark.get(d, {}).get(key, 0) for i in ids for d in subtree(i))
        return total / len(ids)

    c = counters
    batches = c.get("streaming.replicator.batches", 0)
    n_in = c.get("codecs.records_in", 0)
    n_dec = c.get("codecs.records_decoded", 0)
    a_in = c.get("streaming.replicator.actions_in", 0)
    a_ok = c.get("streaming.replicator.actions_applied", 0)
    v = {
        "session.start_s": session_s,
        "api.append_self_s": mean_self("api.append"),
        "api.read_self_s": mean_self("api.read"),
        "api.pointer_self_s": mean_self("api.pointer"),
        "api.delete_to_self_s": mean_self("api.delete_to"),
        "api.jobs_per_append": per_call("api.append", "jobs"),
        "api.jobs_per_read": per_call("api.read", "jobs"),
        "folds.head_info_s": mean_dur("folds.head_info"),
        "folds.calls": len(named("folds.head_info")),
        "plans.recovery.build_s": mean_dur("plans.recovery.build"),
        "plans.recovery.exec_s": mean_dur("plans.recovery.exec"),
        # per drain: building the encoder, then writing the frames runs it
        "codecs.encode_s": mean_dur("codecs.encode") + mean_dur("codecs.encode.write"),
        # the decoder only builds a plan; it runs in the tasks that scan the
        # drain's frames, inside replicate_batch
        "codecs.decode_task_s": per_call("streaming.replicator.batch", "frames_run_ms") / 1000,
        # the decoded frame is consumed inside replicate_batch, and the binary
        # envelope decoder is the only Python UDF on that path
        "codecs.decode_python_s": per_call("streaming.replicator.batch", "py_ms") / 1000,
        "codecs.records_in": n_in,
        "codecs.records_decoded": n_dec,
        "codecs.decoded_ratio": n_dec / n_in if n_in else 0.0,
        "streaming.replicator.batch_self_s": mean_self("streaming.replicator.batch"),
        "streaming.replicator.jobs_per_batch": per_call("streaming.replicator.batch", "jobs"),
        "streaming.replicator.tasks_per_batch": per_call("streaming.replicator.batch", "tasks"),
        "streaming.replicator.shuffle_bytes_per_batch": per_call(
            "streaming.replicator.batch", "shuffle_bytes"
        ),
        "streaming.replicator.actions_in": a_in,
        "streaming.replicator.actions_applied": a_ok,
        "streaming.replicator.applied_ratio": a_ok / a_in if a_in else 0.0,
        "sources.statestore.append_journal_s": mean_dur("sources.statestore.append_journal"),
        "sources.statestore.upsert_metajournal_s": mean_dur(
            "sources.statestore.upsert_metajournal"
        ),
        "sources.statestore.upsert_pointers_s": mean_dur("sources.statestore.upsert_pointers"),
        "sources.statestore.compact_s": mean_dur("sources.statestore.compact"),
        "sources.statestore.files_written_per_batch": (
            c.get("sources.statestore.files_written", 0) / batches if batches else 0.0
        ),
        "sources.statestore.bands_touched_per_batch": (
            c.get("sources.statestore.bands_touched", 0) / batches if batches else 0.0
        ),
        "sources.statestore.bytes_written_per_action": (
            c.get("sources.statestore.bytes_written", 0) / a_ok if a_ok else 0.0
        ),
        # JournalStore.read only builds a plan: the store is read by the
        # tasks that scan its tables, wherever the read's jobs run
        "sources.statestore.read_task_s": per_call("api.read", "store_run_ms") / 1000,
        "sources.statestore.tasks_per_read": per_call("api.read", "store_tasks"),
        "sources.statestore.live_files": c.get("sources.statestore.live_files", 0),
    }
    for q, mod in CORPUS_QUERIES.items():
        pre = f"functions.{mod}.{q}"
        ex = f"{pre}.exec"
        v[f"{pre}.build_s"] = mean_dur(f"{pre}.build")
        v[f"{pre}.exec_s"] = mean_dur(ex)
        v[f"{pre}.exchanges"] = per_call(ex, "exchanges")
        v[f"{pre}.shuffle_bytes"] = per_call(ex, "shuffle_bytes")
        v[f"{pre}.spill_bytes"] = per_call(ex, "spill_bytes")
        v[f"{pre}.python_worker_s"] = per_call(ex, "py_ms") / 1000

    agg = {k: sum(a[k] for a in spark.values()) for k in ("jobs", "tasks", "run_ms", "cpu_ns", "gc_ms")}
    skews = [
        max(r) / statistics.median(r)
        for a in spark.values()
        for r in a["stage_runs"].values()
        if len(r) > 1 and statistics.median(r) > 0
    ]
    roots = [s for s in spans if s["parent"] is None]
    attributed = sum(dur[s["id"]] for s in roots)
    v.update(
        {
            "spark.executor_run_s": agg["run_ms"] / 1000,
            "spark.cpu_s": agg["cpu_ns"] / 1e9,
            "spark.gc_s": agg["gc_ms"] / 1000,
            "spark.jobs": agg["jobs"],
            "spark.tasks": agg["tasks"],
            "spark.task_skew": statistics.median(skews) if skews else 1.0,
            "spark.busy_ratio": agg["run_ms"] / 1000 / (wall * cores) if wall else 0.0,
            "spark.jvm_peak_rss_mb": peak_rss_mb,
            "trace.wall_s": wall,
            "trace.unattributed_s": wall - attributed,
            "trace.untagged_jobs": sum(1 for span, _ in traced_jobs if span is None),
            "spark.listing_jobs": sum(1 for _, listing in traced_jobs if listing),
            "trace.overhead_ratio": overhead,
        }
    )
    assert set(v) == set(PER_LAYER), set(v) ^ set(PER_LAYER)
    return {k: {"value": v[k], "unit": u} for k, u in PER_LAYER.items()}
