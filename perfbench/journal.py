"""``journal_client``: one closed-loop client driving ``JournalClient``.

Set-up writes the seed's actions to the log (untimed) and populates the
store from it with one replicator drain (timed).  The client then
runs a fixed cycle of calls whose keys follow a fixed Zipf-rank schedule:
text and binary appends, recovery reads (the replicated prefix stitched
with the un-replicated tail the cycle's appends leave), ``pointer`` and
``delete_to``.  The schedule, not a per-call draw, keeps the mix of calls
that find a tail the same for every seed; the seed picks which key holds
each rank, and every payload.  Before each cycle, untimed, the benchmark
writes one producer batch for a second, wider topic (appends, deletes,
purges and marks) straight to the log; the cycle ends with one replicator
drain.  The drain is the replicator's path: the un-replicated
log is encoded to Kafka frames (``codecs``), written as a frame parquet,
decoded back and applied with ``replicate_batch``, followed by the
health-driven ``compact(min_files=...)``.

Every read, pointer and returned offset is compared with a
``folds.JournalModel`` per key fed the same actions; after the timed region
the whole store is compared with the models again.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time
import traceback

from kafka_journal_spark import codecs
from kafka_journal_spark.api import ACTIONS_LOG_DDL, JournalClient
from kafka_journal_spark.folds import (
    JournalModel,
    append_rec,
    delete_rec,
    mark_rec,
    purge_rec,
)
from kafka_journal_spark.streaming import replicator
from pyspark.sql import functions as F
from spans import NO_TRACE

#: the client's topic and the producers' topic
CLIENT, BACKFILL = "journal", "backfill"

#: Traffic dimensions (the one-line summary is in BENCHMARK.json).  No trace
#: of a kafka-journal deployment's traffic is public, so each dimension is
#: either taken from the repository's own journal fixture -- the sf tables'
#: ``events`` turned into actions by ``operators/actions.py`` (TESTDATA.md)
#: -- or is an assumption, marked as such.
SIZES = {
    # topic: (keys, set-up actions, Zipf s)
    # client: 24 keys with Zipf s=1.1 is an assumption (no source): one hot
    # journal takes about a quarter of the calls, so reads find an
    # un-replicated tail; the key count itself barely moves per-call cost.
    # producers: uniform keys (s=0), as in the fixture (1500 users with
    # about 67 actions each at sf0.1); the 160 keys are an assumption, so
    # that one producer batch touches a few dozen journals.
    "full": {CLIENT: (24, 96, 1.1), BACKFILL: (160, 64, 0.0)},
    "tiny": {CLIENT: (8, 12, 1.1), BACKFILL: (20, 20, 0.0)},
}
#: producer actions per cycle: sized so a cycle fits the run's time budget
#: (an assumption, not a measurement)
BACKFILL_PER_CYCLE = {"full": 64, "tiny": 10}
#: producer action mix, from the fixture: its five event types are uniform
#: (19.8-20.3 % each at sf0.1) and map to click/view -> append,
#: purchase -> delete, error -> purge, signup -> mark
MIX = (("append", 0.40), ("delete", 0.20), ("purge", 0.20), ("mark", 0.20))
#: the client topic's set-up history: appends and deletes at the fixture's
#: delete share (the client's own calls never purge or mark)
SETUP_DELETE_SHARE = 0.2
#: binary payloads: the fixture has none, so this share is an assumption; it
#: keeps the binary envelope decoder (the decode path's Python UDF) busy.
#: It applies to set-up and producer appends; one of four client appends is
#: binary (``CYCLE``).
BINARY_SHARE = 0.2
#: events per producer append, from the fixture (single-event appends)
PRODUCER_EVENTS = (1, 1)
#: events per client append: an assumption (a command that persists a few
#: events at once)
CLIENT_EVENTS = (1, 3)
#: payloads are shaped like the fixture's ``props`` JSON (8-9 characters,
#: ``{"k": n}`` with n < 100); binary payloads are random bytes of that size
PAYLOAD_K = 100
COMPACT_MIN_FILES = 8
#: each drain re-delivers each partition's last replicated action
#: (at-least-once consumption); the replicator's offset guard must drop it
REDELIVER_OFFSETS = 1

#: one request cycle as (call, Zipf rank of its key): four client appends
#: (one binary), three reads, a pointer and a delete_to, then the drain
#: (an assumed schedule: the calls an entity's command handler makes)
CYCLE = (
    ("append", 0), ("read", 0), ("append", 1), ("pointer", 0), ("append_bin", 0),
    ("read", 3), ("delete_to", 0), ("append", 6), ("read", 1),
    ("drain", None),
)
WARMUP = (("append", 2), ("append_bin", 2), ("read", 2), ("pointer", 2), ("delete_to", 2))

ACTIONS_COLUMNS = [c.split()[0] for c in ACTIONS_LOG_DDL.split(", ")]
_BASE_TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


def _walk_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


class JournalClientWorkload:
    def __init__(self, spark, seed: int, corrupt: bool = False, tiny: bool = False):
        self.spark = spark
        self.seed = seed
        self.corrupt = corrupt
        self.size = "tiny" if tiny else "full"
        self.attempted = 0
        self.failed = 0
        self.units_done = 0
        self.counters: dict[str, float] = {}
        self.op_latency: dict[str, list] = {}

    # -- inputs ------------------------------------------------------------

    def _key(self, rng: random.Random, topic: str = CLIENT) -> str:
        keys, weights = self.keys[topic]
        return rng.choices(keys, weights)[0]

    def _payloads(self, rng: random.Random, binary: bool, events=CLIENT_EVENTS) -> list:
        texts = [
            '{"k": %d}' % rng.randrange(PAYLOAD_K) for _ in range(rng.randint(*events))
        ]
        if binary:
            return [rng.randbytes(len(t)) for t in texts]
        return texts

    def _row(self, topic: str, key: str, kind: str, payloads=None, to=None) -> dict:
        """Record one action in the key's model and return it as an
        actions-log row shaped like ``JournalClient``'s own."""
        off = self.next_offset
        self.next_offset += 1
        row = dict.fromkeys(ACTIONS_COLUMNS)
        row.update(
            topic=topic, partition=JournalClient._partition(key), offset=off, id=key,
            action_type=kind, timestamp=_BASE_TS + dt.timedelta(seconds=off),
            origin="perfbench", version="1.0",
        )
        model = self.models[(topic, key)]
        if kind == "append":
            binary = isinstance(payloads[0], bytes)
            first = (model.pointer() or 0) + 1
            last = first + len(payloads) - 1
            row.update(
                seq_nr_from=first, seq_nr_to=last, tags=[],
                payload_type="binary" if binary else "text",
                payload=None if binary else payloads[0],
                payloads=None if binary else payloads,
                payloads_bin=payloads if binary else None,
            )
            model.apply(append_rec(off, first, last, tuple(payloads)))
        elif kind == "delete":
            row["delete_to"] = min(to, model.pointer())
            model.apply(delete_rec(off, to))
        elif kind == "purge":
            model.apply(purge_rec(off))
        else:
            row["mark_id"] = f"mark-{off}"
            model.apply(mark_rec(off))
        return row

    def _gen_action(self, rng: random.Random, topic: str) -> dict:
        key = self._key(rng, topic)
        ptr = self.models[(topic, key)].pointer()
        if topic == CLIENT:
            kind = "delete" if ptr and rng.random() < SETUP_DELETE_SHARE else "append"
        else:
            kind = rng.choices(*zip(*MIX))[0]
            if kind == "delete" and not ptr:
                kind = "append"  # the writer drops deletes of absent journals
        if kind == "append":
            events = CLIENT_EVENTS if topic == CLIENT else PRODUCER_EVENTS
            payloads = self._payloads(rng, rng.random() < BINARY_SHARE, events)
            return self._row(topic, key, kind, payloads)
        return self._row(topic, key, kind, to=rng.randint(1, ptr) if kind == "delete" else None)

    def _write(self, rows: list[dict]) -> None:
        if rows:
            self.spark.createDataFrame(rows, ACTIONS_LOG_DDL).write.mode("append").parquet(
                self.client.log_path
            )

    def prepare(self, root: str) -> None:
        """Generate the seed's inputs and write them to the actions log."""
        rng = random.Random(self.seed)
        self.root = root
        self.keys, self.models = {}, {}
        for topic, (n, _, s) in SIZES[self.size].items():
            keys = [f"{topic}-{rng.randrange(10**8):08d}" for _ in range(n)]
            self.keys[topic] = (keys, [1.0 / (r + 1) ** s for r in range(n)])
            self.models.update({(topic, k): JournalModel() for k in keys})
        self.next_offset = 0
        self.n_drains = 0
        self.client = JournalClient(self.spark, root, origin="perfbench")
        self._write(
            [
                self._gen_action(rng, topic)
                for topic, (_, n, _) in SIZES[self.size].items()
                for _ in range(n)
            ]
        )
        self.loop_rng = random.Random(self.seed + 1)

    def setup(self) -> None:
        """Populate the store: replicate the set-up actions (the drain the
        timed region runs, without compaction)."""
        self.drain(None, compact=False)

    # -- the replicator's drain ------------------------------------------

    def drain(self, tracer, compact: bool = True) -> None:
        """Replicate the un-replicated log through the Kafka-frame codec."""
        spark, store = self.spark, self.client.store
        ptr = store.pointers().select("topic", "partition", F.col("offset").alias("_p"))
        tail = (
            spark.read.schema(ACTIONS_LOG_DDL)
            .parquet(self.client.log_path)
            .join(F.broadcast(ptr), ["topic", "partition"], "left")
            .filter(F.col("offset") > F.coalesce(F.col("_p"), F.lit(-1)) - REDELIVER_OFFSETS)
            .drop("_p")
        )
        frames_dir = os.path.join(self.root, "kafka", f"drain-{self.n_drains:05d}")
        self.n_drains += 1
        tracer = tracer or NO_TRACE
        frames = codecs.encode_actions_to_kafka(tail)
        with tracer.span("codecs.encode.write"):
            frames.write.parquet(frames_dir)
        decoded = codecs.decode_kafka_to_actions(spark.read.parquet(frames_dir))
        if tracer.enabled:
            # counting jobs of the traced run only (part of its overhead)
            with tracer.span("bench.count"):
                n_frames = spark.read.parquet(frames_dir).count()
                fresh = F.col("offset") > F.coalesce(F.col("_p"), F.lit(-1))
                n_decoded, n_fresh = decoded.join(
                    F.broadcast(ptr), ["topic", "partition"], "left"
                ).agg(F.count("*"), F.sum(fresh.cast("long"))).first()
            before = _walk_files(store.root)
        replicator.replicate_batch(decoded, store)
        if tracer.enabled:
            written = {p: s for p, s in _walk_files(store.root).items() if p not in before}
            bands = {
                part
                for p in written
                if os.sep + "metajournal" + os.sep in p
                for part in p.split(os.sep)
                if part.startswith("seg_band=")
            }
            c = self.counters
            for k, v in (
                ("codecs.records_in", n_frames),
                ("codecs.records_decoded", n_decoded),
                ("streaming.replicator.actions_in", n_decoded),
                ("streaming.replicator.actions_applied", n_fresh or 0),
                ("streaming.replicator.batches", 1),
                ("sources.statestore.files_written", len(written)),
                ("sources.statestore.bytes_written", sum(written.values())),
                ("sources.statestore.bands_touched", len(bands)),
            ):
                c[k] = c.get(k, 0) + v
        if compact:
            store.compact(min_files=COMPACT_MIN_FILES)

    # -- the closed loop -------------------------------------------------

    def _check(self, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1

    def _request(self, op: str, rank, rng: random.Random) -> None:
        c = self.client
        if op == "drain":
            self.drain(self._tracer)
            return
        key = self.keys[CLIENT][0][rank]
        model = self.models[(CLIENT, key)]
        if op in ("append", "append_bin"):
            payloads = self._payloads(rng, op == "append_bin")
            expected = (JournalClient._partition(key), self.next_offset)
            got = c.append(CLIENT, key, payloads)
            self._row(CLIENT, key, "append", payloads)
            self._check(tuple(got) == expected)
        elif op == "read":
            got = c.read(CLIENT, key)
            if self.corrupt and got:
                self.corrupt = False
                got = got[:-1]
            self._check(got == model.read())
        elif op == "pointer":
            self._check(c.pointer(CLIENT, key) == model.pointer())
        elif op == "delete_to":
            ptr = model.pointer()
            to = rng.randint(1, ptr) if ptr else 1
            got = c.delete_to(CLIENT, key, to)
            expected = self.next_offset if ptr else None
            if ptr:
                self._row(CLIENT, key, "delete", to=to)
            self._check(got == expected)

    def warmup(self) -> None:
        """Warm each client call once, untimed (set-up warmed the drain)."""
        rng = random.Random(self.seed - 1)
        saved = (self.attempted, self.failed, self.corrupt)
        self.corrupt = False
        self._tracer = None
        for op, rank in WARMUP:
            self._request(op, rank, rng)
        self.attempted, self.failed, self.corrupt = saved

    def before_cycle(self) -> None:
        """Write the next producer batch to the log (the producers' work,
        not the engine's: untimed)."""
        n = BACKFILL_PER_CYCLE[self.size]
        self._write([self._gen_action(self.loop_rng, BACKFILL) for _ in range(n)])

    def cycle(self, tracer) -> list[float]:
        """Run one request cycle; returns each call's latency in seconds."""
        self._tracer = tracer
        out = []
        for op, rank in CYCLE:
            with tracer.span(f"request.{op}"):
                t = time.perf_counter()
                try:
                    self._request(op, rank, self.loop_rng)
                except Exception:  # a call that raises counts as failed
                    traceback.print_exc()
                    self._check(False)
                out.append(time.perf_counter() - t)
            self.op_latency.setdefault(op, []).append(out[-1])
        self.units_done += len(CYCLE)
        return out

    def final_check(self) -> None:
        """Compare every key's stored journal and head with its model (each
        cycle ends with a drain, so the whole log is replicated)."""
        self._tracer = None
        store = self.client.store
        self.counters["sources.statestore.live_files"] = sum(
            len(store._live_files(t) or ()) for t in ("journal", "metajournal", "pointers")
        )
        rows: dict[tuple, list] = {}
        for r in store.read().select(
            "topic", "id", "seq_nr", "payload_txt", "payload_bin"
        ).collect():
            payload = r.payload_txt if r.payload_bin is None else bytes(r.payload_bin)
            rows.setdefault((r.topic, r.id), []).append((r.seq_nr, payload))
        heads = {(r.topic, r.id): r.seq_nr for r in store.metajournal().collect()}
        for tk in set(rows) | set(heads) | set(self.models):
            model = self.models.get(tk, JournalModel())
            self._check(sorted(rows.get(tk, [])) == model.read())
            self._check(heads.get(tk) == model.pointer())
