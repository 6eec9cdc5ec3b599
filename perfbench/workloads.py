"""The workloads. Each drives the engine only through its public API and is
one closed loop with one client: an operation starts when the previous one
has returned.

stateful  the log's segments are published in two halves; each half is
          applied by ``run_streaming_stateful`` on a freshly constructed
          engine, so phase 2 resumes from phase 1's checkpoint and state store.
multi4    the same log shape reshaped into a 4-table JSON log, replayed into
          four empty lakes by one ``MultiTableEngine.run``.

Shuffle partitions, bucket counts and log shapes are fixed per workload so
that two commits run identical plans.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from debezium_spark import CdcEngine, EngineConfig, LakeTable, MultiTableEngine, TableSpec

from perfbench.inputs import MULTI4_DDL, MULTI4_TABLES, Inputs, Shape, lake_hashes
from perfbench.spans import Tracer

ONE_BATCH = 1 << 40          # max_offsets_per_batch that covers any whole log


@dataclass
class Ctx:
    spark: object
    inputs: Inputs
    run_dir: str
    tracer: Tracer


@dataclass
class Samples:
    """What the timed operations of one run measured."""

    op_rates: list[float] = field(default_factory=list)   # events/s per op
    resume_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    # traced runs only: drive-call windows (epoch s), committed batches'
    # wall_ms, lake writes, and the slowest table's ms per multi4 drive
    windows: list[tuple[float, float]] = field(default_factory=list)
    batch_ms: list[float] = field(default_factory=list)
    files_written: int = 0
    bytes_written: int = 0
    table_ms: list[float] = field(default_factory=list)

    def drive(self, events: int, seconds: float) -> None:
        self.op_rates.append(events / seconds)


class Workload:
    name = ""
    shape: Shape
    partitions = 4   # spark.sql.shuffle.partitions
    buckets = 16     # EngineConfig.target_buckets

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.inputs = ctx.inputs
        self.hist = ctx.inputs.schema_history(ctx.spark)
        self.last_lake = ""  # a lake the last operation built
        self._n = 0

    # -- helpers -----------------------------------------------------------
    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        d = os.path.join(self.ctx.run_dir, f"{tag}{self._n}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def engine(self, d: str, wal: str | None = None) -> CdcEngine:
        return CdcEngine(
            self.spark,
            EngineConfig(max_offsets_per_batch=ONE_BATCH, target_buckets=self.buckets),
            wal_path=wal or self.inputs.wal,
            target_path=os.path.join(d, "target"),
            work_dir=os.path.join(d, "work"),
            schema_changes=self.hist,
        )

    def record_writes(self, s: Samples, target: str) -> None:
        """Traced runs: data files and bytes committed to ``target`` (the
        files each manifest version adds over the one before it)."""
        if not self.ctx.tracer.enabled:
            return
        lake = LakeTable(self.spark, target)
        prev: set[str] = set()
        for v in range(lake.manifest(refresh=True)["version"] + 1):
            cur = {fe["path"] for fe in lake.manifest_at(v)["files"]}
            for p in cur - prev:
                s.files_written += 1
                s.bytes_written += os.path.getsize(os.path.join(target, p))
            prev = cur

    def record_batches(self, s: Samples, eng: CdcEngine, seen: dict[str, int]) -> float:
        """Traced runs: wall_ms of the batches ``eng`` committed since the last
        call (read back through the engine's own ``metrics()``); returns
        their sum in ms. ``seen`` maps work dir -> last batch id recorded."""
        if not self.ctx.tracer.enabled:
            return 0.0
        last = seen.get(eng.work_dir, -1)
        new = [r for r in eng.metrics().collect() if r["hi"] is not None and r["batch_id"] > last]
        if new:
            seen[eng.work_dir] = max(r["batch_id"] for r in new)
        s.batch_ms.extend(float(r["wall_ms"]) for r in new)
        return float(sum(r["wall_ms"] for r in new))

    def check(self, target: str, table: str) -> bool:
        return lake_hashes(LakeTable(self.spark, target)) == self.inputs.oracle[table]

    # -- protocol ----------------------------------------------------------
    def setup_once(self) -> None:
        """Engine construction, lake create and registry load."""
        for eng in self.fresh_engines().values():
            eng.target()
            eng.registry()

    def warm_up(self) -> None:
        """Untimed work that runs the operation's code paths once, so the
        timed operations find the JIT and Python workers warm."""
        raise NotImplementedError

    def fresh_engines(self) -> dict[str, CdcEngine]:
        """{table: engine over a fresh, empty lake}, for set-up and the layer probes."""
        return {"": self.engine(self.fresh_dir("probe"))}

    def op(self, s: Samples, *, check: bool) -> None:
        """One timed operation; counts a failure when ``check`` and the lake
        does not match the oracle."""
        raise NotImplementedError


class Stateful(Workload):
    name = "stateful"
    shape = Shape(n_keys=600, n_segments=8)
    files_per_trigger = 4

    def _drive(self, s: Samples, phases: list[list[str]], *, check: bool) -> None:
        d = self.fresh_dir("op")
        stage = os.path.join(d, "wal")
        target = os.path.join(d, "target")
        os.makedirs(stage)
        drive_s, seen = 0.0, {}
        for phase, names in enumerate(phases):
            for n in names:
                os.link(os.path.join(self.inputs.wal, n), os.path.join(stage, n))
            last_batch = LakeTable(None, target).committed_batch_id if phase else -1
            with self.ctx.tracer.span("drive") as sp:
                t_new = time.time()
                t0 = time.perf_counter()
                eng = self.engine(d, wal=stage)
                eng.run_streaming_stateful(max_files_per_trigger=self.files_per_trigger)
                t1 = time.perf_counter()
            if sp:
                s.windows.append((sp["start"], sp["end"]))
            drive_s += t1 - t0
            if phase:
                # the engine stamps each commit's manifest; the first one
                # after phase 1's last batch is phase 2's first trigger
                first = min(
                    sn["ts"] for sn in LakeTable(None, target).snapshots()
                    if sn["batch_id"] > last_batch
                )
                s.resume_s.append(first - t_new)
            self.record_batches(s, eng, seen)
        s.drive(sum(self.inputs.seg_rows[: sum(map(len, phases))]), drive_s)
        self.record_writes(s, target)
        s.attempted += 1
        if check and not self.check(target, ""):
            s.failed += 1
        self.last_lake = target

    def op(self, s: Samples, *, check: bool) -> None:
        segs = self.inputs.segments
        with self.ctx.tracer.span("op"):
            self._drive(s, [segs[: len(segs) // 2], segs[len(segs) // 2:]], check=check)

    def warm_up(self) -> None:
        # both phases over the first four segments: query start, state-store
        # restore and the merge, on a quarter of the data
        segs = self.inputs.segments
        self._drive(Samples(), [segs[:2], segs[2:4]], check=False)


class Multi4(Workload):
    name = "multi4"
    shape = Shape(n_keys=1000, n_segments=8, multi4=True)
    buckets = 4
    restarts = 5

    def engine(self, d: str, tables=MULTI4_TABLES) -> MultiTableEngine:
        return MultiTableEngine(
            self.spark,
            EngineConfig(max_offsets_per_batch=ONE_BATCH, target_buckets=self.buckets),
            wal_path=self.inputs.wal,
            target_root=os.path.join(d, "targets"),
            work_root=os.path.join(d, "work"),
            tables={
                t: TableSpec(payload_ddl=MULTI4_DDL, key_columns=("repo", "path"))
                for t in tables
            },
        )

    def fresh_engines(self) -> dict[str, CdcEngine]:
        return self.engine(self.fresh_dir("probe")).engines

    def op(self, s: Samples, *, check: bool) -> None:
        d = self.fresh_dir("op")
        targets = {t: os.path.join(d, "targets", t) for t in MULTI4_TABLES}
        eng = self.engine(d)
        with self.ctx.tracer.span("op"):
            with self.ctx.tracer.span("drive") as sp:
                t0 = time.perf_counter()
                eng.run()
                dt = time.perf_counter() - t0
            s.drive(self.inputs.n_events, dt)
            if sp:
                s.windows.append((sp["start"], sp["end"]))
                s.table_ms.append(max(self.record_batches(s, e, {}) for e in eng.engines.values()))
                for t in MULTI4_TABLES:
                    self.record_writes(s, targets[t])
            for _ in range(self.restarts):
                with self.ctx.tracer.span("restart"):
                    # a restart over up-to-date lakes: open, bounds, nothing to do
                    t0 = time.perf_counter()
                    self.engine(d).run()
                    s.resume_s.append(time.perf_counter() - t0)
        s.attempted += 1
        if check and not all(self.check(targets[t], t) for t in MULTI4_TABLES):
            s.failed += 1
        self.last_lake = targets[MULTI4_TABLES[0]]

    def warm_up(self) -> None:
        # one table's pipeline runs every code path the four tables run
        self.engine(self.fresh_dir("warm"), tables=MULTI4_TABLES[:1]).run()


WORKLOADS = {w.name: w for w in (Stateful, Multi4)}
