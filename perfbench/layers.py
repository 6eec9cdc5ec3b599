"""Traced-run layer probes. Each layer is timed from outside, through its
public functions only, on the workload's own log:

  plans.registry    CdcEngine.registry() + SchemaRegistry.apply_to_lake
  functions.envelope CdcEngine.envelope_stream(lo, hi) -> noop sink
  operators.resolver resolve_lww over the cached envelope of the log prefix
  plans.lake        stage_initial / commit_staged of the prefix, merge of the
                    last segment, expire_snapshots, bucket-pruned read

The prefix is everything before the last segment, so the merge probe is the
size of one tail batch.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from debezium_spark import LakeTable
from debezium_spark.plans.lake import bucket_expr
from debezium_spark.operators.resolver import resolve_lww

from perfbench.inputs import lake_hashes
from perfbench.spans import median

def _timed(tracer, name: str, fn):
    with tracer.span(name):
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def probe(wl, engines: dict, tracer) -> tuple[dict, bool]:
    """Per-layer metrics summed over ``engines`` ({table: fresh CdcEngine
    over an empty lake}); also returns whether every probe lake matches the
    oracle (prefix staged + last segment merged == whole log)."""
    inputs = wl.inputs
    cut = inputs.seg_lo[-1] - 1
    acc = {k: 0.0 for k in (
        "registry.s", "registry.changes_applied", "envelope.s", "resolver.s",
        "resolver.events_in", "resolver.keys_out", "lake.stage_s", "lake.commit_s",
        "lake.merge_s", "lake.expire_s", "merge.rows_written", "merge.actions",
        "merge.touched", "merge.buckets",
    )}
    reads: list[float] = []
    ok = True
    for table, eng in engines.items():
        key_cols = eng.config.key_columns

        reg, dt = _timed(tracer, "probe.registry", eng.registry)
        acc["registry.s"] += dt
        lake = eng.target()
        pending = reg.pending_upto(1 << 62)

        def apply():
            for c in pending:
                reg.apply_to_lake(lake, c)

        acc["registry.s"] += _timed(tracer, "probe.registry", apply)[1]
        acc["registry.changes_applied"] += len(pending)

        acc["envelope.s"] += _timed(
            tracer, "probe.envelope", lambda: _noop(eng.envelope_stream())
        )[1]

        env = eng.envelope_stream(None, cut).persist()
        acc["resolver.events_in"] += env.count()

        def resolve():
            actions = resolve_lww(env, key_cols=key_cols).persist()
            return actions, actions.count()

        (actions, n_keys), dt = _timed(tracer, "probe.resolver", resolve)
        acc["resolver.s"] += dt
        acc["resolver.keys_out"] += n_keys

        staged, dt = _timed(
            tracer, "probe.lake.stage", lambda: lake.stage_initial(actions, batch_id=0)
        )
        acc["lake.stage_s"] += dt
        acc["lake.commit_s"] += _timed(
            tracer, "probe.lake.commit",
            lambda: lake.commit_staged(staged, batch_id=0, max_offset=cut),
        )[1]
        actions.unpersist()
        env.unpersist()

        before = {fe["path"] for fe in lake.manifest(refresh=True)["files"]}
        tail_actions = resolve_lww(eng.envelope_stream(cut, None), key_cols=key_cols).persist()
        acc["merge.actions"] += tail_actions.count()
        res, dt = _timed(
            tracer, "probe.lake.merge",
            lambda: lake.merge(tail_actions, batch_id=1, max_offset=1 << 62),
        )
        tail_actions.unpersist()
        acc["lake.merge_s"] += dt
        acc["merge.touched"] += res["touched_buckets"]
        acc["merge.buckets"] += lake.n_buckets
        for fe in lake.manifest(refresh=True)["files"]:
            if fe["path"] not in before:
                acc["merge.rows_written"] += pq.ParquetFile(
                    os.path.join(lake.path, fe["path"])
                ).metadata.num_rows

        acc["lake.expire_s"] += _timed(
            tracer, "probe.lake.expire",
            lambda: lake.expire_snapshots(keep_last=1, grace_seconds=0),
        )[1]

        lookups = inputs.lookups[table]
        bucket = dict(
            wl.spark.createDataFrame(lookups, "repo string, path string")
            .select("repo", bucket_expr(F.col("repo"), lake.n_buckets))
            .collect()
        )
        for repo, path in lookups:
            b = bucket[repo]
            reads.append(_timed(
                tracer, "probe.lake.read",
                lambda: lake.read(buckets=[b])
                .where((F.col("repo") == repo) & (F.col("path") == path)).collect(),
            )[1])
        ok = ok and lake_hashes(lake) == inputs.oracle[table]

    out = {k: v for k, v in acc.items() if not k.startswith("merge.")}
    out["envelope.events_per_s"] = inputs.n_events / max(acc["envelope.s"], 1e-9)
    out["resolver.keys_per_event"] = acc["resolver.keys_out"] / max(acc["resolver.events_in"], 1)
    out["lake.rewrite_amp"] = acc["merge.rows_written"] / max(acc["merge.actions"], 1)
    out["lake.touched_bucket_share"] = acc["merge.touched"] / max(acc["merge.buckets"], 1)
    out["lake.read_s"] = median(reads)
    return out, ok


def space_amp(target: str) -> float:
    """Parquet bytes under the table directory / bytes its current manifest
    references."""
    files = LakeTable(None, target).manifest()["files"]
    live = sum(os.path.getsize(os.path.join(target, fe["path"])) for fe in files)
    total = sum(
        os.path.getsize(os.path.join(root, fn))
        for root, _dirs, names in os.walk(target)
        for fn in names
        if fn.endswith(".parquet")
    )
    return total / max(live, 1)
